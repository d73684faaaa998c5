import pytest

from parser_indexer_py_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=4, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def corpus_pdf():
    """Small deterministic transcript corpus (driver-side twin)."""
    from parser_indexer_py_spark.datagen import generate_transcripts_pandas

    return generate_transcripts_pandas(120)


@pytest.fixture
def job_count(spark):
    """``job_count(fn)`` runs ``fn()`` under a fresh Spark job group and
    returns ``(Spark jobs it launched, fn's result)``. Job counts do not
    depend on the host, so a budget on them catches an added driver
    round-trip that wall time would hide in noise."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"job-count-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), out

    return run


@pytest.fixture
def forced_run(job_count, monkeypatch):
    """``forced_run(fn, **caps)`` builds and collects ``fn()`` (a
    DataFrame) under a fresh job group, with each named ``index.wand``
    cap forced for the call (``DRIVER_META_ROW_CAP=0`` moves block
    selection into Spark, ``DRIVER_CAND_CAP=0`` sends every selection to
    full evaluation). Returns ``(jobs, rows, moved)``: the Spark jobs the
    call launched, its rows as tuples, and the set of ``PRUNE_STATS``
    paths (pass1, pass2, fallback, cutover) it moved."""
    from parser_indexer_py_spark.index import wand

    def run(fn, **caps):
        with monkeypatch.context() as m:
            for name, value in caps.items():
                m.setattr(wand, name, value)
            before = dict(wand.PRUNE_STATS)
            n_jobs, rows = job_count(
                lambda: [tuple(r) for r in fn().collect()]
            )
        moved = {p for p, n in wand.PRUNE_STATS.items() if n != before[p]}
        return n_jobs, rows, moved

    return run
