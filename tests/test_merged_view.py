"""A segment set opened once: recorded table schemas, query-scoped merged
stats and one delete state per view.

- every table of a build, a postings-level merge and a tombstone
  generation records the schema Spark would infer for it, so opening an
  index reads no parquet footer;
- a query over a MergedSegmentsView costs the job count of a query over
  one index: the query terms' per-segment stats are merged on the driver
  (no groupBy, no shuffle join), and the pruned engine's phase 2 runs on
  the driver;
- a view lists each segment's tombstones once: a delete landing after it
  was built does not change its answers, the next view sees it;
- point term lookups (MoreLikeThis, explain, wordbreak) over a view read
  only their own terms' stats, never the merged vocabulary.
"""

import types
import uuid

import pytest
from pyspark.sql import functions as F

from parser_indexer_py_spark.datagen import (
    generate_transcripts,
    generate_transcripts_pandas,
)
from parser_indexer_py_spark.index.build import (
    TABLE_SCHEMAS,
    TOMBSTONE_SCHEMA,
    merge_indexes,
)
from parser_indexer_py_spark.index.oracle import BM25Oracle
from parser_indexer_py_spark.index.search import load_index, search
from parser_indexer_py_spark.index.update import delete_docs
from parser_indexer_py_spark.streaming.incremental import (
    SegmentedIndex,
    search_segments_df,
)
from parser_indexer_py_spark.streaming.merged import MergedSegmentsView

N_CONVS = 60
TOPICAL = 0.5
SPLIT = 30  # conversations [0, 30) in segment 0, [30, 60) in segment 1
PRUNED = {"mode": "pruned", "full_cutover": 0}


def _append_both(spark, root):
    s = SegmentedIndex(spark, root)
    df = generate_transcripts(spark, N_CONVS, partitions=2, topical=TOPICAL)
    num = F.substring("conv_id", 6, 8).cast("int")
    s.append_batch(df.filter(num < SPLIT), epoch_id=0)
    s.append_batch(df.filter(num >= SPLIT), epoch_id=1)
    return s


@pytest.fixture(scope="module")
def seg(spark, tmp_path_factory):
    return _append_both(spark, str(tmp_path_factory.mktemp("segs")))


@pytest.fixture(scope="module")
def oracle():
    """Global docIDs: segment order, (conv_id, turn_idx) order inside."""
    pdf = generate_transcripts_pandas(N_CONVS, topical=TOPICAL)
    pdf["seg"] = (pdf["conv_id"].str[5:].astype(int) >= SPLIT).astype(int)
    pdf = pdf.sort_values(["seg", "conv_id", "turn_idx"], kind="stable")
    return BM25Oracle.from_pandas(
        pdf[["text", "role"]].assign(doc_id=range(len(pdf)))
    )


def _queries(oracle):
    """``pair``: two mid-df terms, answered by pruning pass 1 on this
    corpus; ``multi``: a hot, a mid and a rare term, which pruning
    cannot certify (answered by the fallback)."""
    by_df = sorted(
        oracle.term_stats().items(), key=lambda kv: (-kv[1][0], kv[0])
    )
    rare = next(t for t, (df, _) in reversed(by_df) if df >= 3)
    return {
        "pair": f"{by_df[len(by_df) // 8][0]} {by_df[len(by_df) // 4][0]}",
        "multi": f"{by_df[0][0]} {by_df[len(by_df) // 3][0]} {rare}",
    }


def _query(oracle):
    return _queries(oracle)["pair"]


def _first_segment(seg):
    """The segment set as it stood after the first append."""
    return types.SimpleNamespace(
        spark=seg.spark, commits=lambda: seg.commits()[:1]
    )


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _jobs(spark, fn):
    """(jobs, stage names, result) of ``fn()`` under its own job group."""
    sc = spark.sparkContext
    group = f"merged-view-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    ids = tracker.getJobIdsForGroup(group)
    names = [
        tracker.getStageInfo(st).name
        for j in ids
        for st in tracker.getJobInfo(j).stageIds
        if tracker.getStageInfo(st) is not None
    ]
    return len(ids), names, out


def test_recorded_schemas_equal_inferred(spark, seg, tmp_path_factory):
    """A build, a postings-level merge and a tombstone generation record
    exactly the schema a footer read infers for each table."""
    c0, c1 = seg.commits()
    merged = str(tmp_path_factory.mktemp("merged"))
    merge_indexes(spark, [(c0["dir"], 0), (c1["dir"], c0["n_docs"])], merged)
    delete_docs(spark, merged, [0])
    for root in (c0["dir"], merged):
        idx = load_index(spark, root)
        for name in TABLE_SCHEMAS:
            inferred = spark.read.parquet(getattr(idx.paths, name)).schema
            assert idx.schemas[name] == inferred.jsonValue(), (root, name)
            assert getattr(idx, name).schema == inferred, (root, name)
    idx = load_index(spark, merged)
    inferred = spark.read.parquet(idx.paths.tombstones).schema
    assert idx.schemas["tombstones"] == TOMBSTONE_SCHEMA.jsonValue()
    assert inferred == TOMBSTONE_SCHEMA


def test_open_and_first_query_infer_no_schema(spark, seg):
    """Opening an index and its first full and pruned queries read no
    parquet footer: no job of theirs is a schema-inference job."""
    root = seg.commits()[0]["dir"]
    for kw in ({}, PRUNED):
        n_jobs, names, rows = _jobs(
            spark,
            lambda: _rows(search(load_index(spark, root), "bace", k=10, **kw)),
        )
        assert rows and n_jobs > 0
        assert not [n for n in names if n.startswith("parquet at")], names


def test_merged_query_job_budget(spark, seg, oracle, forced_run):
    """A full query over one or two segments costs as many Spark jobs as
    one over a single index (3: the stats lookup, the decode/fold shuffle
    and the top-k), and pruning pass 1 over two segments at most 6 —
    with the oracle's rows and the pass-1 path."""
    q = _query(oracle)
    want = oracle.search(q, k=10)
    for segs in (_first_segment(seg), seg):
        n_jobs, _, rows = _jobs(
            spark, lambda: _rows(search_segments_df(segs, q, k=10))
        )
        assert n_jobs <= 3, (len(segs.commits()), n_jobs)
    assert rows == want
    n_jobs, rows, moved = forced_run(
        lambda: search_segments_df(seg, q, k=10, **PRUNED)
    )
    assert ([r[:2] for r in rows], moved) == (want, {"pass1"})
    assert n_jobs <= 6, n_jobs


def test_view_merges_term_stats_once(seg, oracle):
    """A view's query-term stats are one driver-side merge, shared by
    every lookup of the same terms, and equal the merged corpus stats."""
    view = MergedSegmentsView(seg)
    terms = sorted(set(_query(oracle).split())) + ["zzzznotaterm"]
    got = view.term_stats(terms)
    assert view.term_stats(list(reversed(terms))) is got
    want = oracle.term_stats()
    assert {t: v[:2] for t, v in got.items()} == {
        t: want[t] for t in terms if t in want
    }
    full = {
        r["term"]: (r["df"], r["cf"], r["idf"])
        for r in view.termstats.filter(F.col("term").isin(terms)).collect()
    }
    assert got == full


@pytest.fixture(scope="module")
def seg_del(spark, tmp_path_factory, oracle):
    """Two segments; for each query, one of its top hits in segment 1 is
    deleted (tombstones hold segment-local ids)."""
    s = _append_both(spark, str(tmp_path_factory.mktemp("segs_del")))
    c1 = s.commits()[1]
    victims = set()
    for q in _queries(oracle).values():
        top = [d for d, _ in oracle.search(q, k=10)]
        victims.add(next(d for d in top if d >= c1["base"]))
    delete_docs(spark, c1["dir"], [d - c1["base"] for d in victims])
    return s, victims


@pytest.mark.parametrize(
    "knobs, caps, q_name, answered",
    [
        ({}, {}, "pair", "pass1"),
        ({}, {"DRIVER_META_ROW_CAP": 0}, "pair", "pass1"),
        ({}, {"DRIVER_CAND_CAP": 0}, "pair", "fallback"),
        ({"pool_target": 1}, {}, "multi", "fallback"),
    ],
    ids=["driver", "distributed_selection", "over_cap", "fallback"],
)
def test_forced_paths_on_view_with_tombstone(
    seg_del, oracle, forced_run, knobs, caps, q_name, answered
):
    """Every forced branch of the pruned engine over a two-segment view
    with deleted docs: the oracle's rows minus the deleted docs, scores
    unchanged, on the forced path, equal to the full evaluation."""
    s, victims = seg_del
    q = _queries(oracle)[q_name]
    want = [r for r in oracle.search(q, k=20) if r[0] not in victims][:10]
    _, got, moved = forced_run(
        lambda: search_segments_df(s, q, k=10, **PRUNED, **knobs), **caps
    )
    assert ([r[:2] for r in got], moved) == (want, {answered})
    assert _rows(search_segments_df(s, q, k=10)) == want


def test_view_keeps_its_delete_state(spark, seg_del, oracle):
    """A delete landing after a view was built does not change that
    view's answers; the next ``search_segments_df`` call sees it."""
    s, victim = seg_del
    q = _query(oracle)
    view = MergedSegmentsView(s)
    before = {m: _rows(search(view, q, k=10, with_meta=False, **kw))
              for m, kw in (("full", {}), ("pruned", PRUNED))}
    late = before["full"][0][0]
    c = next(
        c for c in s.commits() if c["base"] <= late < c["base"] + c["n_docs"]
    )
    delete_docs(spark, c["dir"], [late - c["base"]])
    for m, kw in (("full", {}), ("pruned", PRUNED)):
        assert _rows(search(view, q, k=10, with_meta=False, **kw)) == before[m]
        after = _rows(search_segments_df(s, q, k=20, **kw))
        assert late not in {d for d, _ in after}
        assert after[:9] == [r for r in before[m] if r[0] != late][:9]


def test_term_lookups_leave_vocabulary_unmerged(
    spark, seg, oracle, tmp_path_factory
):
    """MoreLikeThis, ``explain`` and wordbreak over a two-segment view
    look up only their own terms (``index.term_stats``): each answer
    equals a monolithic build of the same corpus, and the view's merged
    vocabulary (the union + groupBy behind ``view.termstats``) is never
    built."""
    from parser_indexer_py_spark.index.build import build_index
    from parser_indexer_py_spark.index.debug import explain
    from parser_indexer_py_spark.index.mlt import more_like_this
    from parser_indexer_py_spark.index.spell import wordbreak

    out = str(tmp_path_factory.mktemp("mono"))
    build_index(
        spark,
        generate_transcripts(spark, N_CONVS, partitions=2, topical=TOPICAL),
        out,
    )
    mono = load_index(spark, out)
    view = MergedSegmentsView(seg)
    q = _query(oracle)
    d = next(d for d in sorted(oracle.docs) if oracle.more_like_this(d))
    a, b = q.split()

    def answers(index):
        return (
            [tuple(r) for r in more_like_this(index, d, with_meta=False)
             .collect()],
            [tuple(r) for r in explain(index, q, k=10).collect()],
            wordbreak(index, f"{a}{b} {a[:2]} {a[2:]}"),
        )

    got = answers(view)
    assert got == answers(mono)
    assert got[0] and got[1] and got[2]["breaks"] and got[2]["combines"]
    assert view._termstats_df is None
