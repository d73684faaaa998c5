"""Tiered postings-level compaction + full query surface on segments.

Round-2 verdict items 2 & 3:
- compact_tiered merges segments at the POSTINGS level (decode, re-base,
  re-encode — no re-tokenization) and must preserve docIDs AND scores
  bit-for-bit (unlike compact(), which renumbers);
- search_segments_df must support the same keyword surface as batch
  search(): pruned mode, fq filters, facets-equivalent, excerpts, phrase.
"""

import os

import pytest

from parser_indexer_py_spark.datagen import generate_transcripts
from parser_indexer_py_spark.index.build import build_index, merge_indexes
from parser_indexer_py_spark.index.search import load_index, search
from parser_indexer_py_spark.streaming.incremental import (
    SegmentedIndex,
    search_segments_df,
)
from parser_indexer_py_spark.streaming.merged import MergedSegmentsView

N_CONVS = 48
CHUNKS = [(0, 12), (12, 24), (24, 36), (36, 48)]


def _chunked(spark, lo, hi):
    from pyspark.sql import functions as F

    df = generate_transcripts(spark, N_CONVS, partitions=2)
    num = F.substring("conv_id", 6, 8).cast("int")
    return df.filter((num >= lo) & (num < hi))


@pytest.fixture(scope="module")
def seg(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("tiered_idx"))
    s = SegmentedIndex(spark, root, positions=True)
    for i, (lo, hi) in enumerate(CHUNKS):
        s.append_batch(_chunked(spark, lo, hi), epoch_id=i, writer_id="w0")
    assert len(s.commits()) == len(CHUNKS)
    return s


@pytest.fixture(scope="module")
def batch_idx(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("tiered_batch"))
    build_index(
        spark, generate_transcripts(spark, N_CONVS, partitions=2), out,
        n_chunks=1, positions=True,
    )
    return load_index(spark, out)


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _seg_results(seg, query, **kw):
    return _rows(search_segments_df(seg, query, k=10, **kw))


def test_merged_view_full_surface_equals_batch(spark, seg, batch_idx):
    """Every search() keyword works on segments; scores equal the batch
    build bit-for-bit (docIDs differ by arrival order, so compare scores +
    (conv_id, turn_idx) identity via with_meta)."""
    for kw in (
        {},
        {"mode": "pruned", "full_cutover": 0},
        {"conjunctive": True},
        {"role": "user"},
        {"filters": {"role": ["user", "assistant"]}},
        {"phrase": True},
    ):
        got = search_segments_df(
            seg, "bace cedi", k=10, with_meta=True, **kw
        ).select("conv_id", "turn_idx", "score").collect()
        want = search(
            batch_idx, "bace cedi", k=10, with_meta=True, **kw
        ).select("conv_id", "turn_idx", "score").collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want)), kw


def test_merged_view_excerpts(spark, seg):
    rows = search_segments_df(
        seg, "bace", k=5, with_meta=True, with_excerpt=True
    ).collect()
    assert rows and all("bace" in r["excerpt"].lower() for r in rows)


def test_segment_empties_launch_no_job(
    spark, seg, tmp_path_factory, job_count
):
    """A no-term query, an OOV pruned query over the merged view and a
    query against a segment directory with no commits are answered on
    the driver: an empty LocalRelation with the SCORE_SCHEMA/META_SCHEMA
    contract, whose collect launches no Spark job."""
    from parser_indexer_py_spark.index.search import META_SCHEMA, SCORE_SCHEMA

    no_commits = SegmentedIndex(spark, str(tmp_path_factory.mktemp("none")))
    for with_meta, schema in ((False, SCORE_SCHEMA), (True, META_SCHEMA)):
        for df in (
            search_segments_df(seg, "!!! ...", k=10, with_meta=with_meta),
            search_segments_df(
                seg, "zzzznotaterm", k=10, mode="pruned", full_cutover=0,
                with_meta=with_meta,
            ),
            search_segments_df(no_commits, "bace", k=10, with_meta=with_meta),
        ):
            n_jobs, rows = job_count(df.collect)
            assert (n_jobs, rows) == (0, [])
            assert df.schema == spark.createDataFrame([], schema).schema


def test_tiered_compaction_preserves_docids_and_scores(spark, seg):
    """compact_tiered is a postings-level merge: docIDs AND scores are
    IDENTICAL before and after (compact() renumbers; this must not)."""
    queries = ["bace", "bace cedi wedi", "rikizudi"]
    before = {q: _seg_results(seg, q) for q in queries}
    covered_before = seg.covered_epochs()
    n_before = len(seg.commits())

    rec = seg.compact_tiered(min_merge=2, max_merge=3)
    assert rec is not None
    assert len(seg.commits()) == n_before - 3 + 1
    assert rec["writers"] == ["w0"] and rec["writer"] == "w0"
    assert seg.covered_epochs() == covered_before
    for q in queries:
        assert _seg_results(seg, q) == before[q], q

    # cascade: keep merging until no tier qualifies; results still identical
    while seg.compact_tiered(min_merge=2) is not None:
        pass
    for q in queries:
        assert _seg_results(seg, q) == before[q], q

    # phrase queries survive the positional payload re-encode
    ph = _seg_results(seg, "bace cedi", phrase=True)
    assert isinstance(ph, list)


def test_tiered_merge_cost_is_merge_scoped(spark, seg):
    """The merge reads postings + docmap of the merged segments only —
    no text/analyzer stage: the merged segment dir must carry a 'merged'
    manifest record, not tokenize stages."""
    import json

    merged_dirs = [
        c["dir"] for c in seg.commits() if c["dir"].find("seg-tier-") >= 0
    ]
    assert merged_dirs
    with open(os.path.join(merged_dirs[0], "manifest.json")) as f:
        records = json.load(f)
    stages = {r["stage"] for r in records}
    assert "merged" in stages
    assert not any(s.startswith("postings_chunk") for s in stages)
    assert "docmap" not in stages


def test_replay_into_merged_segment_is_noop(spark, seg):
    before = seg.commits()
    df = generate_transcripts(spark, 4)
    seg.append_batch(df, epoch_id=0, writer_id="w0")  # absorbed epoch
    assert seg.commits() == before


def test_writerless_commit_vs_new_stream_raises(spark, tmp_path_factory):
    """ADVICE r2: a writer=None commit must NOT silently no-op a replay
    from a concrete NEW writer (fresh checkpoint restarting epochs)."""
    root = str(tmp_path_factory.mktemp("guard_idx"))
    s = SegmentedIndex(spark, root)
    df = generate_transcripts(spark, 4)
    s.append_batch(df, epoch_id=0)  # writerless (bench.py-style direct call)
    with pytest.raises(ValueError, match="different stream"):
        s.append_batch(df, epoch_id=0, writer_id="fresh-ckpt")
    # writerless replay of a writerless commit stays a no-op
    before = s.commits()
    s.append_batch(df, epoch_id=0)
    assert s.commits() == before


def test_splice_preserves_concurrent_appends(spark, seg, tmp_path_factory):
    """An append landing between merge start and commit is spliced in,
    not dropped (ADVICE r2 check-then-write race)."""
    root = str(tmp_path_factory.mktemp("splice_idx"))
    s = SegmentedIndex(spark, root)
    for i in range(3):
        s.append_batch(_chunked(spark, 4 * i, 4 * i + 4), epoch_id=i, writer_id="w")
    commits = s.commits()
    absorbed = commits[:2]
    # simulate a concurrent append AFTER the merge ran but BEFORE splice
    s.append_batch(_chunked(spark, 20, 24), epoch_id=99, writer_id="w")
    record = dict(absorbed[-1])
    record.update(
        {
            "epochs": [0, 1],
            "dir": absorbed[0]["dir"],
            "base": absorbed[0]["base"],
            "n_docs": absorbed[0]["n_docs"] + absorbed[1]["n_docs"],
            "writers": ["w"],
        }
    )
    s._splice_commit(absorbed, record)
    after = s.commits()
    assert [c["epoch"] for c in after] == [1, 2, 99]
    # absorbing an already-absorbed run raises instead of double-committing
    with pytest.raises(RuntimeError, match="changed during compaction"):
        s._splice_commit(absorbed, record)


def test_merge_indexes_rejects_mixed_flags(spark, seg, tmp_path_factory):
    a = str(tmp_path_factory.mktemp("mixa"))
    b = str(tmp_path_factory.mktemp("mixb"))
    df = generate_transcripts(spark, 6)
    build_index(spark, df, a, n_chunks=1, positions=True)
    build_index(spark, df, b, n_chunks=1, positions=False)
    with pytest.raises(ValueError, match="positions"):
        merge_indexes(
            spark, [(a, 0), (b, 10**6)], str(tmp_path_factory.mktemp("mixo"))
        )


def test_merged_view_requires_uniform_buckets(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("nb_idx"))
    s = SegmentedIndex(spark, root)
    df = generate_transcripts(spark, 6)
    s.append_batch(df, epoch_id=0)
    # hand-build a second segment with different n_buckets
    d2 = os.path.join(root, "seg-manual")
    build_index(spark, df, d2, n_chunks=1, n_buckets=8)
    import json

    commits = s.commits()
    commits.append(
        {
            "epoch": 1, "dir": d2, "base": commits[0]["n_docs"],
            "n_docs": 1, "sum_dl": 1, "ts": 0.0, "writer": None,
        }
    )
    s._write_commits(commits)
    with pytest.raises(ValueError, match="n_buckets"):
        MergedSegmentsView(s)


def test_edismax_qf_over_segments(spark, tmp_path_factory, forced_run):
    """Round-5 (verdict task 6): multi-field edismax over PER-FIELD
    MergedSegmentsView roots equals the monolithic two-field answer, in
    full AND block-max pruned modes (seg-aware selection keys resolved
    per field). Both fields' segment streams ingest the SAME chunks in
    the same order, so per-segment n_docs (hence commit bases, hence
    global docIDs) align across fields exactly like the monolithic
    stable assignment."""
    from pyspark.sql import functions as F

    from parser_indexer_py_spark.index.boolean import edismax_qf

    title = F.array_join(F.slice(F.split(F.col("text"), " "), 1, 2), " ")
    mono, views = {}, {}
    for fname, col in [("text", F.col("text")), ("title", title)]:
        out = str(tmp_path_factory.mktemp(f"qfseg_mono_{fname}"))
        src = generate_transcripts(spark, N_CONVS, partitions=2).withColumn(
            "text", col
        )
        build_index(spark, src, out, n_chunks=1)
        mono[fname] = load_index(spark, out)
        root = str(tmp_path_factory.mktemp(f"qfseg_seg_{fname}"))
        s = SegmentedIndex(spark, root)
        for i, (lo, hi) in enumerate(CHUNKS):
            s.append_batch(
                _chunked(spark, lo, hi).withColumn("text", col),
                epoch_id=i, writer_id="w0",
            )
        views[fname] = MergedSegmentsView(s)
    assert views["text"].n_docs == views["title"].n_docs == mono["text"].n_docs
    qf = {"text": 0.5, "title": 10.0}
    tt = (
        mono["title"].termstats.orderBy(F.desc("df"), "term").limit(1)
        .collect()[0]["term"]
    )
    q = f"{tt} bace"
    want = sorted(
        map(
            tuple,
            edismax_qf(mono, q, qf, k=10, tie=0.1, mm=0)
            .select("conv_id", "turn_idx", "score")
            .collect(),
        )
    )
    assert want
    for mode, kw, caps in [
        ("full", {}, {}),
        ("pruned", {"full_cutover": 0}, {}),
        ("pruned", {"full_cutover": 0, "pool_target": 2}, {}),
        ("pruned", {"full_cutover": 0}, {"DRIVER_META_ROW_CAP": 0}),
    ]:
        _, got, _ = forced_run(
            lambda: edismax_qf(
                views, q, qf, k=10, tie=0.1, mm=0, mode=mode, **kw
            ).select("conv_id", "turn_idx", "score"),
            **caps,
        )
        assert sorted(got) == want, (mode, kw, caps)


def test_compact_tiered_races_appends(spark, tmp_path_factory):
    """Round-5 (verdict task 6): compact_tiered racing append_batch on a
    POSITIONAL root — the commit lock serializes log updates, segment
    builds happen outside it, and the interleaving must lose nothing:
    afterwards the merged view equals a from-scratch batch build over
    every ingested row (scores bit-identical incl. phrase search)."""
    import threading

    from pyspark.sql import functions as F

    root = str(tmp_path_factory.mktemp("race_idx"))
    s = SegmentedIndex(spark, root, positions=True)
    for i, (lo, hi) in enumerate(CHUNKS[:2]):
        s.append_batch(_chunked(spark, lo, hi), epoch_id=i, writer_id="w0")

    errs = []

    def compact_all():
        try:
            while s.compact_tiered(min_merge=2) is not None:
                pass
        except Exception as e:  # surfaced in the main thread
            errs.append(e)

    t = threading.Thread(target=compact_all)
    t.start()
    for i, (lo, hi) in enumerate(CHUNKS[2:], start=2):
        s.append_batch(_chunked(spark, lo, hi), epoch_id=i, writer_id="w0")
    t.join(timeout=300)
    assert not t.is_alive() and not errs, errs
    assert s.covered_epochs() == set(range(len(CHUNKS)))

    out = str(tmp_path_factory.mktemp("race_batch"))
    build_index(
        spark, generate_transcripts(spark, N_CONVS, partitions=2), out,
        n_chunks=1, positions=True,
    )
    batch = load_index(spark, out)
    for q, kw in [
        ("bace cedi", {}),
        ("bace cedi", {"phrase": True}),
        ("bace cedi wedi rikizudi", {"mode": "pruned", "full_cutover": 0}),
    ]:
        got = search_segments_df(
            s, q, k=10, with_meta=True, **kw
        ).select("conv_id", "turn_idx", "score").collect()
        want = search(
            batch, q, k=10, with_meta=True, **kw
        ).select("conv_id", "turn_idx", "score").collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want)), (q, kw)
