"""Randomized nasty-corpus end-to-end gate: engine (full AND pruned) must
match the pure-Python BM25 oracle bit-for-bit on corpora deliberately full
of edge cases — empty texts, unicode folds, hyphen-wrapped lines, internal
periods/apostrophes, duplicate documents, single-token docs, skewed term
frequencies. Seeded numpy randomness: deterministic across runs.
"""

import numpy as np
import pandas as pd
import pytest

from parser_indexer_py_spark.index.build import build_index
from parser_indexer_py_spark.index.oracle import BM25Oracle
from parser_indexer_py_spark.index.search import load_index, search

# vocabulary exercising analyzer edge cases: folds, internal punctuation,
# digits, tokens that tokenize to multiple terms, a hot (Zipf-ish) term
VOCAB = [
    "alpha", "beta", "gamma", "delta", "hot", "hot", "hot", "hot",
    "u.s.a", "don't", "3.14", "a•b",      # bullet folds to a.b
    "wrap-\nped",                                 # de-hyphenation
    "CASE", "x_y", "“quoted”", "en–dash",
]

ROLES = ["user", "assistant", "system", "tool"]


def _random_corpus(seed: int, n_docs: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n_docs):
        conv = f"conv-{i // 5:06d}"
        turn = i % 5
        role = ROLES[int(rng.integers(0, len(ROLES)))]
        shape = rng.random()
        if shape < 0.06:
            text = ""                                     # empty doc
        elif shape < 0.12:
            text = str(VOCAB[int(rng.integers(0, len(VOCAB)))])  # single token
        elif shape < 0.18 and rows:
            text = rows[-1][3]                            # exact duplicate
        else:
            k = int(rng.integers(2, 30))
            words = [VOCAB[int(j)] for j in rng.integers(0, len(VOCAB), k)]
            text = " ".join(words)
        rows.append((conv, turn, role, text, None))
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool"]
    )
    pdf["ts"] = pd.Timestamp("2025-06-01")
    return pdf


QUERIES = [
    "hot",                      # hottest term
    "alpha gamma",              # multi-OR
    "a•b u.s.a",         # fold + internal periods
    "wrapped",                  # only matches via de-hyphenation
    "missingterm",              # OOV -> empty or partial
    "hot missingterm alpha",    # mixed
    "don't 3.14",
]


def test_fuzz_segmented_equals_batch(spark, tmp_path_factory):
    """Nasty corpus split into arrival-ordered segments: distributed
    multi-segment search must score exactly like a monolithic batch build
    (query-time-merged stats), including synonym expansion."""
    from pyspark.sql import functions as F

    from parser_indexer_py_spark.streaming.incremental import (
        SegmentedIndex,
        search_segments,
    )

    pdf = _random_corpus(31, 90)
    df = spark.createDataFrame(pdf)
    batch_dir = str(tmp_path_factory.mktemp("fuzzseg_batch"))
    build_index(spark, df, batch_dir, n_buckets=4, salt=2, n_chunks=1)
    batch = load_index(spark, batch_dir)

    seg = SegmentedIndex(spark, str(tmp_path_factory.mktemp("fuzzseg")))
    for i in range(3):
        seg.append_batch(
            df.filter(F.pmod(F.crc32(F.col("conv_id")), F.lit(3)) == i), i,
            writer_id="fuzz",
        )

    for q in ["hot", "alpha gamma", "a•b u.s.a", "missingterm", "don't 3.14"]:
        got_scores = sorted(s for _, s in search_segments(seg, q, k=10))
        want_scores = sorted(
            r["score"]
            for r in search(batch, q, k=10, with_meta=False).collect()
        )
        assert got_scores == want_scores, q


@pytest.mark.parametrize("seed", [11, 23])
def test_fuzz_engine_matches_oracle(spark, tmp_path_factory, forced_run,
                                    seed):
    pdf = _random_corpus(seed, 120)
    out = str(tmp_path_factory.mktemp(f"fuzz{seed}"))
    df = spark.createDataFrame(pdf)
    build_index(spark, df, out, n_buckets=4, salt=2, n_chunks=2)
    idx = load_index(spark, out)
    dm = idx.docmap.select("doc_id", "text", "role").toPandas()
    oracle = BM25Oracle.from_pandas(dm)

    for q in QUERIES:
        for conjunctive in (False, True):
            want = oracle.search(q, k=10, conjunctive=conjunctive)
            for mode_kw, caps in (
                ({"mode": "full"}, {}),
                ({"mode": "pruned", "full_cutover": 0}, {}),
                (
                    {"mode": "pruned", "full_cutover": 0},
                    {"DRIVER_META_ROW_CAP": 0},
                ),
            ):
                _, got, _ = forced_run(
                    lambda: search(
                        idx, q, k=10, conjunctive=conjunctive,
                        with_meta=False, **mode_kw
                    ),
                    **caps,
                )
                assert got == want, (seed, q, conjunctive, mode_kw, caps)
        # role-filtered
        want_r = oracle.search(q, k=10, role="user")
        got_r = [
            (r["doc_id"], r["score"])
            for r in search(idx, q, k=10, role="user", with_meta=False).collect()
        ]
        assert got_r == want_r, (seed, q, "role")


def _rand_bool_query(rng, terms, roles, depth: int = 0) -> str:
    """Random classic-syntax query over the corpus's analyzed vocabulary:
    bare/boosted/required/prohibited terms, phrases (with slop and occur
    prefixes), trailing-wildcard prefixes, fuzzy terms, role filters,
    AND/OR, and (round-4) parenthesized groups up to 2 levels deep."""
    parts = []
    for _ in range(int(rng.integers(2, 6))):
        r = rng.random()
        t = terms[int(rng.integers(0, len(terms)))]
        if r < 0.12:
            parts.append(f"+{t}")
        elif r < 0.22:
            parts.append(f"-{t}")
        elif r < 0.34:
            t2 = terms[int(rng.integers(0, len(terms)))]
            ph = f'"{t} {t2}"'
            if rng.random() < 0.4:
                ph += f"~{int(rng.integers(1, 4))}"
            if rng.random() < 0.3:
                ph = ("+" if rng.random() < 0.5 else "-") + ph
            parts.append(ph)
        elif r < 0.42 and len(t) >= 3 and t[:2].isalnum():
            parts.append(t[:2] + "*")
        elif r < 0.48:
            parts.append(f"role:{roles[int(rng.integers(0, len(roles)))]}")
        elif r < 0.54:
            parts.append(f"{t}^{int(rng.integers(2, 5))}")
        elif r < 0.62 and len(t) >= 4:
            fz = t if rng.random() < 0.5 else t[:-1] + "q"  # maybe a typo
            suffix = ["~", "~0", "~1", "~2"][int(rng.integers(0, 4))]
            if rng.random() < 0.3:
                suffix += f"^{int(rng.integers(2, 4))}"
            parts.append(fz + suffix)
        elif r < 0.68 and len(t) >= 4 and t.isascii() and t.isalnum() \
                and t == t.lower():
            # round-5 wildcard tail: ? at a middle position, or mid-*
            i1 = int(rng.integers(1, len(t) - 1))
            if rng.random() < 0.5:
                w = t[:i1] + "?" + t[i1 + 1:]
            else:
                w = t[:i1] + "*" + t[-1]
            if rng.random() < 0.25:
                w += f"^{int(rng.integers(2, 4))}"
            if rng.random() < 0.25:
                w = ("+" if rng.random() < 0.5 else "-") + w
            parts.append(w)
        elif r < 0.72:
            # round-5 field-grouping sugar
            r1 = roles[int(rng.integers(0, len(roles)))]
            r2 = roles[int(rng.integers(0, len(roles)))]
            sep = " OR " if rng.random() < 0.5 else " "
            fg = f"role:({r1}{sep}{r2})"
            if rng.random() < 0.3:
                fg = "-" + fg
            parts.append(fg)
        elif r < 0.80 and depth < 2:
            grp = _rand_bool_query(rng, terms, roles, depth + 1)
            if grp:
                g = f"({grp})"
                if rng.random() < 0.3:
                    g += f"^{int(rng.integers(2, 4))}"
                if rng.random() < 0.3:
                    g = ("+" if rng.random() < 0.5 else "-") + g
                parts.append(g)
        else:
            parts.append(t)
        c = rng.random()
        if c < 0.12:
            parts.append("AND")
        elif c < 0.24:
            parts.append("OR")
    while parts and parts[-1] in ("AND", "OR"):
        parts.pop()
    return " ".join(parts)


@pytest.mark.parametrize("seed", [7, 41])
def test_fuzz_boolean_matches_oracle(spark, tmp_path_factory, seed):
    """Randomized Lucene-syntax queries over a nasty corpus: the boolean
    evaluator (every clause type, boosts, slop, prefixes, fielded
    filters, mm) must match the pure-Python oracle bit-for-bit."""
    from parser_indexer_py_spark.index.boolean import boolean_search

    pdf = _random_corpus(seed, 120)
    out = str(tmp_path_factory.mktemp(f"bfuzz{seed}"))
    df = spark.createDataFrame(pdf)
    build_index(spark, df, out, n_buckets=4, salt=2, n_chunks=1,
                positions=True)
    idx = load_index(spark, out)
    oracle = BM25Oracle.from_pandas(
        idx.docmap.select("doc_id", "text", "role").toPandas()
    )
    terms = sorted(oracle.postings)
    rng = np.random.default_rng(seed * 1000 + 1)
    n_nonempty = 0
    for i in range(15):
        q = _rand_bool_query(rng, terms, ROLES)
        mm = int(rng.integers(0, 3))
        got = [
            (r["doc_id"], r["score"])
            for r in boolean_search(
                idx, q, k=10, min_should_match=mm, with_meta=False
            ).collect()
        ]
        want = oracle.boolean_search(q, k=10, min_should_match=mm)
        assert got == want, (seed, i, q, mm)
        # WAND-delegable shapes (term-only positives, any negatives/
        # boosts, pure-SHOULD mm) must stay identical with the pruning
        # machinery forced on; clause-path queries reject the knob loudly
        try:
            got_p = [
                (r["doc_id"], r["score"])
                for r in boolean_search(
                    idx, q, k=10, min_should_match=mm, mode="pruned",
                    full_cutover=0, with_meta=False,
                ).collect()
            ]
        except ValueError:
            pass
        else:
            assert got_p == want, (seed, i, q, mm, "pruned")
        n_nonempty += bool(got)
    assert n_nonempty >= 5  # the generator must produce real matches


@pytest.mark.parametrize("seed", [13])
def test_fuzz_flatten_preserves_semantics(seed):
    """flatten_query must be a semantics-preserving rewrite: over random
    group-bearing queries, the PURE-PYTHON oracle evaluated on the
    UNFLATTENED tree and on the FLATTENED form must match the same doc
    set with the same scores (float fold order differs between the two
    forms, so scores compare at 1e-9 relative — the engine gates exact
    equality separately against the flattened form both sides use)."""
    from parser_indexer_py_spark.functions.queryparser import (
        flatten_query,
        parse_query,
    )
    from parser_indexer_py_spark.index.oracle import BM25Oracle

    from parser_indexer_py_spark.functions.analyzer import analyze_text

    pdf = _random_corpus(seed, 100)
    oracle = BM25Oracle(
        {i: analyze_text(t) for i, t in enumerate(pdf["text"])},
        {i: r for i, r in enumerate(pdf["role"])},
    )
    terms = sorted(oracle.postings)
    rng = np.random.default_rng(seed)
    n_flattened = 0
    # deterministic foldable shapes first (random groups usually carry a
    # phrase/fielded/fuzzy clause and stay nested), then the clause soup
    fixed = [
        f"({terms[0]} OR {terms[1]}) AND {terms[2]}",
        f"({terms[0]} {terms[3]}^2)^3 -{terms[2]}",
        f"-({terms[1]} {terms[4]}) {terms[0]}",
        f"(({terms[0]} OR {terms[1]}) {terms[5]}) {terms[2]}",
        f"+({terms[3]} {terms[4]}) +{terms[0]}",
    ]
    for i in range(60):
        q = fixed[i] if i < len(fixed) else _rand_bool_query(rng, terms, ROLES)
        try:
            pq = parse_query(q)
        except ValueError:
            continue
        flat = flatten_query(pq)
        if len(flat.subs) != len(pq.subs) or flat.must_any:
            n_flattened += 1
        nested = oracle._pq_scores(pq)
        flattened = oracle._pq_scores(flat)
        if nested is None or flattened is None:
            assert nested == flattened, (seed, i, q)
            continue
        assert set(nested) == set(flattened), (seed, i, q)
        for d, s in nested.items():
            f = flattened[d]
            assert abs(s - f) <= 1e-9 * max(1.0, abs(s)), (seed, i, q, d)
    assert n_flattened >= 5  # the generator really produced foldable groups
