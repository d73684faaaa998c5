"""End-to-end index build + BM25 search vs the pure-Python oracle.

This is the golden gate (SURVEY.md §5.2 test 3): engine top-10 docIDs AND
scores must equal the scalar oracle bit-for-bit on the reference query
shapes (FIXTURES.md §3: single / multi-OR / AND / filtered / rare / hot),
plus docID-stability across partition counts (§7.2) and resume.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from parser_indexer_py_spark.datagen import generate_transcripts
from parser_indexer_py_spark.index.build import build_index, term_bucket
from parser_indexer_py_spark.index.oracle import BM25Oracle
from parser_indexer_py_spark.index.search import load_index, search

N_CONVS = 120


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx"))
    df = generate_transcripts(spark, N_CONVS, partitions=4)
    build_index(spark, df, out, n_partitions=6, n_buckets=8, salt=4, n_chunks=2)
    return load_index(spark, out)


@pytest.fixture(scope="module")
def oracle(index):
    docmap = index.docmap.select("doc_id", "conv_id", "turn_idx", "role").toPandas()
    # rebuild the text exactly as the engine saw it, via the driver twin
    from parser_indexer_py_spark.datagen import generate_transcripts_pandas

    pdf = generate_transcripts_pandas(N_CONVS)
    merged = pdf.merge(docmap, on=["conv_id", "turn_idx"], validate="1:1")
    assert len(merged) == len(pdf)
    return BM25Oracle.from_pandas(
        merged[["doc_id", "text", "role_x"]].rename(columns={"role_x": "role"})
    )


def _queries(oracle):
    stats = oracle.term_stats()
    by_df = sorted(stats.items(), key=lambda kv: (-kv[1][0], kv[0]))
    hot = by_df[0][0]
    mid = by_df[len(by_df) // 3][0]
    rare = next(t for t, (df, _) in reversed(by_df) if df >= 3)
    return {
        "q_single": mid,
        "q_hot": hot,
        "q_rare": rare,
        "q_multi_or": f"{hot} {mid} {rare}",
        "q_dup_terms": f"{mid} {mid} {hot}",
    }


def test_docmap_invariants(index):
    dm = index.docmap
    n = dm.count()
    assert n == index.n_docs
    ids = dm.agg(F.min("doc_id"), F.max("doc_id"), F.countDistinct("doc_id")).head()
    assert ids[0] == 0 and ids[1] == n - 1 and ids[2] == n
    # docIDs follow (conv_id, turn_idx) order
    sample = (
        dm.orderBy("doc_id").select("conv_id", "turn_idx").limit(500).toPandas()
    )
    keys = list(zip(sample["conv_id"], sample["turn_idx"]))
    assert keys == sorted(keys)


def test_termstats_match_oracle(index, oracle):
    got = {
        r["term"]: (r["df"], r["cf"])
        for r in index.termstats.collect()
    }
    want = oracle.term_stats()
    assert got == want


def test_postings_blocks_wellformed(index):
    rows = index.postings.limit(2000).collect()
    from parser_indexer_py_spark.functions.varint import decode_deltas

    for r in rows:
        docs = decode_deltas(bytes(r["docs_bin"]), r["n"])
        assert (np.diff(docs.astype(np.int64)) > 0).all() or r["n"] == 1
        assert int(docs[0]) == r["doc_min"] and int(docs[-1]) == r["doc_max"]
        assert r["bucket"] == term_bucket(r["term"], index.n_buckets)


@pytest.mark.parametrize("conjunctive", [False, True])
def test_topk_rank_identical(index, oracle, conjunctive):
    for name, q in _queries(oracle).items():
        want = oracle.search(q, k=10, conjunctive=conjunctive)
        got = [
            (r["doc_id"], r["score"])
            for r in search(index, q, k=10, conjunctive=conjunctive).collect()
        ]
        assert got == want, f"{name} ({q!r}) conj={conjunctive}\n{got}\nvs\n{want}"


def test_topk_filtered_by_role(index, oracle):
    q = _queries(oracle)["q_multi_or"]
    want = oracle.search(q, k=10, role="assistant")
    got = [
        (r["doc_id"], r["score"])
        for r in search(index, q, k=10, role="assistant").collect()
    ]
    assert got == want
    roles = {r["role"] for r in search(index, q, k=10, role="assistant").collect()}
    assert roles <= {"assistant"}


def test_empty_and_missing_terms(index):
    assert search(index, "", k=10).count() == 0
    assert search(index, "zzzznotaterm", k=10).count() == 0


def test_docid_stability_across_partitioning(spark, index, tmp_path_factory):
    """SURVEY.md §7.2: docIDs must not change between N and 4N parallelism —
    build the same corpus at a different partition count and compare."""
    out2 = str(tmp_path_factory.mktemp("idx2"))
    df = generate_transcripts(spark, N_CONVS, partitions=13)
    build_index(spark, df, out2, n_partitions=17, n_buckets=8, salt=2, n_chunks=1)
    idx2 = load_index(spark, out2)
    a = index.docmap.select("doc_id", "conv_id", "turn_idx").toPandas()
    b = idx2.docmap.select("doc_id", "conv_id", "turn_idx").toPandas()
    a = a.sort_values("doc_id").reset_index(drop=True)
    b = b.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_resume_skips_completed_stages(spark, index, tmp_path_factory, capsys):
    """Re-running build on a completed dir is a no-op driven by the
    manifest (north_rule checkpoint-resume)."""
    import json
    import time

    root = index.paths.root
    with open(index.paths.manifest) as f:
        before = json.load(f)
    t0 = time.time()
    df = generate_transcripts(spark, N_CONVS, partitions=4)
    build_index(spark, df, root, n_partitions=6, n_buckets=8, salt=4, n_chunks=2)
    with open(index.paths.manifest) as f:
        after = json.load(f)
    assert after == before  # nothing re-ran
    assert time.time() - t0 < 30


def test_resume_with_different_params_raises(spark, index):
    """Round-2 review: chunk stages are keyed by bucket range, so resuming
    with different n_buckets/n_chunks/salt would silently skip buckets or
    mis-bucket new blocks — must fail fast instead."""
    df = generate_transcripts(spark, 5)
    with pytest.raises(ValueError, match="different build parameters"):
        build_index(
            spark, df, index.paths.root, n_buckets=16, salt=4, n_chunks=2
        )


def test_no_resume_rebuild_is_clean(spark, index, oracle, tmp_path_factory):
    """ADVICE r1 build.py:414: a resume=False rebuild over an existing index
    must produce a fresh, correct index — not silently no-op (stale manifest)
    or duplicate postings blocks (append into the old postings dir)."""
    out = str(tmp_path_factory.mktemp("rebuild"))
    df = generate_transcripts(spark, N_CONVS, partitions=4)
    build_index(spark, df, out, n_partitions=6, n_buckets=8, salt=4, n_chunks=2)
    idx1 = load_index(spark, out)
    total_blocks_1 = idx1.postings.count()
    # rebuild in place without resume: must re-run and match exactly
    build_index(
        spark, df, out, n_partitions=6, n_buckets=8, salt=4, n_chunks=2,
        resume=False,
    )
    idx2 = load_index(spark, out)
    assert idx2.postings.count() == total_blocks_1, "duplicate blocks"
    q = _queries(oracle)["q_multi_or"]
    want = oracle.search(q, k=10)
    got = [(r["doc_id"], r["score"]) for r in search(idx2, q, k=10).collect()]
    assert got == want


def test_replayed_postings_chunk_is_idempotent(spark, index, oracle, tmp_path_factory):
    """ADVICE r1 build.py:584: a crash after a chunk's write job but before
    its manifest entry makes resume re-run the chunk — the dynamic
    partition-overwrite commit must overwrite, not append duplicates."""
    import json as _json

    out = str(tmp_path_factory.mktemp("replay"))
    df = generate_transcripts(spark, N_CONVS, partitions=4)
    build_index(spark, df, out, n_partitions=6, n_buckets=8, salt=4, n_chunks=2)
    idx1 = load_index(spark, out)
    blocks_before = idx1.postings.count()
    # simulate the crash window: drop the LAST chunk's manifest entry
    man_path = load_index(spark, out).paths.manifest
    with open(man_path) as f:
        records = _json.load(f)
    chunk_stages = [r for r in records if r["stage"].startswith("postings_chunk_")]
    records.remove(chunk_stages[-1])
    with open(man_path, "w") as f:
        _json.dump(records, f)
    # resume re-runs exactly that chunk
    build_index(spark, df, out, n_partitions=6, n_buckets=8, salt=4, n_chunks=2)
    idx2 = load_index(spark, out)
    assert idx2.postings.count() == blocks_before, "replay duplicated blocks"
    q = _queries(oracle)["q_multi_or"]
    want = oracle.search(q, k=10)
    got = [(r["doc_id"], r["score"]) for r in search(idx2, q, k=10).collect()]
    assert got == want


@pytest.mark.parametrize("conjunctive", [False, True])
def test_pruned_mode_rank_identical(index, oracle, conjunctive):
    """M4 gate: block-max pruned path == full path == oracle (SURVEY §7.1).
    full_cutover=0 pins the pruning machinery ON (the adaptive default
    would route this tiny corpus to the full path)."""
    for name, q in _queries(oracle).items():
        want = oracle.search(q, k=10, conjunctive=conjunctive)
        got = [
            (r["doc_id"], r["score"])
            for r in search(
                index, q, k=10, conjunctive=conjunctive, mode="pruned",
                full_cutover=0,
            ).collect()
        ]
        assert got == want, f"{name} ({q!r}) conj={conjunctive}"


def test_pruned_two_pass_on_topical_corpus(spark, tmp_path_factory):
    """Round-5 theta-refined pass 2: on the skewed (topical) corpus a
    tiny pass-1 pool no longer means a full-evaluation fallback — pass 2
    re-selects with the theta/|terms| bound threshold and certifies
    completeness by construction. Gates: (a) rank identity vs the
    pure-Python oracle on the TOPICAL corpus (the flat-corpus gates stay
    next door), (b) equality across pass-1/pass-2/fallback whatever path
    answers, (c) on a bursty single-term query the two-pass machinery
    itself (not the full fallback) produces the answer."""
    from parser_indexer_py_spark.datagen import (
        _gen_convs, make_vocab, zipf_cdf,
    )
    from parser_indexer_py_spark.index.wand import (
        PRUNE_STATS, reset_prune_stats,
    )

    out = str(tmp_path_factory.mktemp("topidx"))
    df = generate_transcripts(
        spark, 250, partitions=4, topical=0.7, min_tokens=24,
    )
    build_index(spark, df, out, n_partitions=6, n_buckets=8, n_chunks=1)
    idx = load_index(spark, out)
    pdf = _gen_convs(
        np.arange(250, dtype=np.uint64), np.array(make_vocab()),
        zipf_cdf(), min_tokens=24, max_tokens=48, topical=0.7,
    )
    oracle = BM25Oracle.from_pandas(
        idx.docmap.select("doc_id", "text", "role").toPandas()
    )
    # burstiest band term: max per-doc tf (the topic-slot-0 shape)
    from collections import Counter

    best, best_tf = None, 0
    for text in pdf["text"]:
        for w, c in Counter(text.split()).most_common(2):
            if c > best_tf and w in oracle.postings and w.isalpha():
                df_w = len(oracle.postings[w])
                if 5 <= df_w <= len(pdf) // 4:
                    best, best_tf = w, c
    assert best is not None and best_tf >= 6, (best, best_tf)
    hot = max(oracle.postings, key=lambda t: len(oracle.postings[t]))
    for q in [best, f"{best} {hot}"]:
        want = oracle.search(q, k=5)
        got = [
            (r["doc_id"], r["score"])
            for r in search(
                idx, q, k=5, mode="pruned", full_cutover=0,
                pool_target=64, with_meta=False,
            ).collect()
        ]
        assert got == want, q
    # the bursty single-term query must be answered by the pruned
    # machinery itself: pass 1 with a tiny pool, then theta-refined pass 2
    reset_prune_stats()
    search(
        idx, best, k=3, mode="pruned", full_cutover=0, pool_target=64,
        with_meta=False,
    ).collect()
    assert PRUNE_STATS["fallback"] == 0, PRUNE_STATS
    assert PRUNE_STATS["pass1"] + PRUNE_STATS["pass2"] == 1, PRUNE_STATS


def test_pruned_distributed_selection_rank_identical(
    index, oracle, forced_run
):
    """DRIVER_META_ROW_CAP=0 forces the DISTRIBUTED block-selection branch
    (quantile-approximated tau, O(1) driver rows — VERDICT r1 #2): results
    must still match the oracle exactly (the completeness check converts
    any tau approximation error into a full-evaluation fallback)."""
    for name, q in _queries(oracle).items():
        _, got, _ = forced_run(
            lambda: search(index, q, k=10, mode="pruned", full_cutover=0),
            DRIVER_META_ROW_CAP=0,
        )
        assert [r[:2] for r in got] == oracle.search(q, k=10), name


def test_pruned_over_cap_rank_identical(index, oracle, forced_run):
    """DRIVER_CAND_CAP=0 puts every selection over the phase-2 cap: the
    call is answered by full evaluation (the ``fallback`` path), with the
    oracle's rows with and without role filters."""
    for name, q in _queries(oracle).items():
        for role in (None, "user"):
            _, got, moved = forced_run(
                lambda: search(
                    index, q, k=10, mode="pruned", full_cutover=0,
                    role=role,
                ),
                DRIVER_CAND_CAP=0,
            )
            want = oracle.search(q, k=10, role=role)
            assert [r[:2] for r in got] == want, (name, role)
            assert moved == {"fallback"}, (name, role, moved)


def test_pruned_adaptive_cutover_routes_small_to_full(index, oracle):
    """With the default cutover, this tiny corpus must take the FULL path
    (plan fact: distributed MapInPandas decode instead of the pruned
    path's driver-collected local relation)."""
    q = _queries(oracle)["q_multi_or"]
    df = search(index, q, k=10, mode="pruned")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan, plan[:2000]
    want = oracle.search(q, k=10)
    assert [(r["doc_id"], r["score"]) for r in df.collect()] == want


def test_pruned_mode_filtered(index, oracle):
    q = _queries(oracle)["q_multi_or"]
    want = oracle.search(q, k=10, role="user")
    got = [
        (r["doc_id"], r["score"])
        for r in search(
            index, q, k=10, role="user", mode="pruned", full_cutover=0
        ).collect()
    ]
    assert got == want


def test_pruned_fallback_path(index, oracle):
    """Force the completeness check to fail (pool_target=1 selects almost
    nothing, leaving R large) — the pruned mode must detect it and fall
    back to full evaluation, still matching the oracle exactly."""
    q = _queries(oracle)["q_multi_or"]
    want = oracle.search(q, k=10)
    got = [
        (r["doc_id"], r["score"])
        for r in search(
            index, q, k=10, mode="pruned", pool_target=1, full_cutover=0
        ).collect()
    ]
    assert got == want


# Spark jobs one pruned call may launch on each forced path, per strategy:
# the counts this test measures, with the final top-k handed back as a
# LocalRelation (its collect runs no job; a fallback ends in full_eval,
# whose top-k is a Spark plan). Job counts do not depend on the host, so
# an added driver round-trip on any path fails here. with_meta may add
# one job: the stored-field fetch by docID.
@pytest.mark.parametrize(
    "knobs, caps, q_name, answered, budget",
    [
        ({}, {}, "q_single", "pass1", {"keyword": 6, "dismax": 7}),
        (
            {}, {"DRIVER_META_ROW_CAP": 0}, "q_single", "pass1",
            {"keyword": 9, "dismax": 10},
        ),
        (
            {}, {"DRIVER_CAND_CAP": 0}, "q_single", "fallback",
            {"keyword": 4, "dismax": 5},
        ),
        (
            {"pool_target": 1}, {}, "q_multi_or", "fallback",
            {"keyword": 8, "dismax": 10},
        ),
    ],
    ids=["driver", "distributed_selection", "over_cap", "fallback"],
)
def test_pruned_job_budget(index, oracle, forced_run, knobs, caps, q_name,
                           answered, budget):
    """Keyword search and single-field DisMax (qf text^1, tie 0, mm 0 —
    keyword search IS one-field DisMax) on each forced path, with and
    without stored fields: the oracle's rows, the named path, and no more
    Spark jobs than the budget."""
    from parser_indexer_py_spark.index.boolean import edismax_qf

    q = _queries(oracle)[q_name]
    runs = {
        "keyword": lambda with_meta: search(
            index, q, k=10, mode="pruned", full_cutover=0,
            with_meta=with_meta, **knobs,
        ),
        "dismax": lambda with_meta: edismax_qf(
            {"text": index}, q, {"text": 1.0}, k=10, tie=0.0, mm=0,
            mode="pruned", full_cutover=0, with_meta=with_meta, **knobs,
        ),
    }
    for strategy, run in runs.items():
        for with_meta in (False, True):
            n_jobs, rows, moved = forced_run(lambda: run(with_meta), **caps)
            assert [r[:2] for r in rows] == oracle.search(q, k=10), strategy
            assert moved == {answered}, (strategy, moved)
            assert n_jobs <= budget[strategy] + with_meta, (
                strategy, with_meta, n_jobs,
            )


def test_driver_side_empties_launch_no_job(index, forced_run):
    """Results the driver already knows are empty — a query that analyzes
    to no terms, an OOV pruned query answered before any block is read —
    come back as an empty LocalRelation: the call launches no Spark job
    beyond the OOV query's term-stats lookup, no pruning path moves (it
    was answered by the engine's empty result, not by a cutover or
    fallback to full evaluation), and the columns and types are the
    with_meta schema contract."""
    from parser_indexer_py_spark.index.search import META_SCHEMA, SCORE_SCHEMA

    spark = index.spark
    for with_meta, schema in ((True, META_SCHEMA), (False, SCORE_SCHEMA)):
        want = spark.createDataFrame([], schema).schema
        for make, stats_jobs in (
            (lambda: search(index, "!!! ...", k=10, with_meta=with_meta), 0),
            (
                lambda: search(
                    index, "zzzznotaterm", k=10, mode="pruned",
                    full_cutover=0, with_meta=with_meta,
                ),
                1,
            ),
        ):
            assert forced_run(make) == (stats_jobs, [], set())
            assert make().schema == want


def test_unbounded_k_returns_every_match(index, oracle):
    """k far above the doc count (``k=10**9``, the facade's "all rows")
    returns every match: top-k limits are clamped at the index's doc
    count, so no TakeOrdered allocates a 2k-slot buffer."""
    from parser_indexer_py_spark.index.boolean import edismax_qf

    q = _queries(oracle)["q_multi_or"]
    want = oracle.search(q, k=index.n_docs)
    n_match = len(set().union(*(oracle.postings[t] for t in q.split())))
    assert len(want) == n_match < index.n_docs
    runs = {
        "full": lambda: search(index, q, k=10**9, with_meta=False),
        "pruned": lambda: search(
            index, q, k=10**9, mode="pruned", full_cutover=0, with_meta=False
        ),
        "edismax_qf": lambda: edismax_qf(
            {"text": index}, q, {"text": 1.0}, k=10**9, tie=0.0, mm=0,
            with_meta=False,
        ),
    }
    for name, run in runs.items():
        got = [(r["doc_id"], r["score"]) for r in run().collect()]
        assert got == want, name


def test_score_ties_break_by_docid(spark, tmp_path_factory):
    """FIXTURES.md q_topk_ties: identical texts produce identical scores;
    the tie must break by ascending docID, identically to the oracle."""
    import pandas as pd

    out = str(tmp_path_factory.mktemp("ties"))
    rows = []
    for i in range(12):
        rows.append((f"conv-{i:08d}", 0, "user", "zeta alpha beta", None))
    for i in range(12, 24):
        rows.append((f"conv-{i:08d}", 0, "user", f"filler{i} words here", None))
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool"]
    )
    pdf["ts"] = pd.Timestamp("2025-01-01")
    df = spark.createDataFrame(pdf)
    build_index(spark, df, out, n_buckets=4, salt=2, n_chunks=1)
    idx = load_index(spark, out)
    got = [(r["doc_id"], r["score"]) for r in search(idx, "zeta alpha", k=10).collect()]
    # conv order == doc_id order here (one turn per conv, sorted conv ids)
    oracle = BM25Oracle(
        {
            i: (["zeta", "alpha", "beta"] if i < 12 else [f"filler{i}", "words", "here"])
            for i in range(24)
        }
    )
    want = oracle.search("zeta alpha", k=10)
    assert got == want
    ids = [d for d, _ in got]
    scores = [s for _, s in got]
    assert len(set(scores)) == 1 and ids == sorted(ids)
    # pruned path honors the same tie-break
    got_p = [
        (r["doc_id"], r["score"])
        for r in search(
            idx, "zeta alpha", k=10, mode="pruned", full_cutover=0
        ).collect()
    ]
    assert got_p == got


def test_empty_corpus_raises(spark, tmp_path):
    from parser_indexer_py_spark.datagen import TRANSCRIPT_SCHEMA

    empty = spark.createDataFrame([], TRANSCRIPT_SCHEMA)
    with pytest.raises(Exception, match="empty"):
        build_index(spark, empty, str(tmp_path / "e"), n_chunks=1)


def test_empty_text_docs_are_indexed_but_unmatchable(spark, tmp_path):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "conv_id": ["conv-0", "conv-0", "conv-1"],
            "turn_idx": [0, 1, 0],
            "role": ["user", "assistant", "user"],
            "text": ["hello world", "", "…"],  # empty + punctuation-only
            "tool": [None, None, None],
        }
    )
    pdf["ts"] = pd.Timestamp("2025-01-01")
    out = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pdf), out, n_buckets=2, n_chunks=1)
    idx = load_index(spark, out)
    assert idx.n_docs == 3  # empty docs keep their docIDs (stable ordering)
    dls = {r["doc_id"]: r["dl"] for r in idx.docmap.collect()}
    assert dls[1] == 0 and dls[2] == 0
    got = [(r["doc_id"], r["score"]) for r in search(idx, "hello", k=5).collect()]
    assert [d for d, _ in got] == [0]
