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
