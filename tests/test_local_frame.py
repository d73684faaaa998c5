"""``search.local_frame``: driver-held rows become an Arrow LocalRelation.

A bare ``createDataFrame(list)`` is an RDD-backed scan that costs one
Spark job on every collect; the query path therefore builds every frame
from driver data through ``local_frame`` (the source audit below keeps it
that way)."""

import ast
import datetime as dt
import pathlib

import pandas as pd
from pyspark.sql import functions as F

from parser_indexer_py_spark.index.search import (
    META_SCHEMA,
    SCORE_SCHEMA,
    local_frame,
)

PKG = pathlib.Path(__file__).resolve().parents[1] / "parser_indexer_py_spark"


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


def test_local_frame_keeps_values_types_and_plan(spark, job_count):
    rows = [(3, 2.5, "conv-1", 7, "user"), (9, 1.25, None, None, None)]
    df = local_frame(spark, rows, META_SCHEMA)
    assert _plan(df) == "LocalRelation"
    n_jobs, got = job_count(df.collect)
    assert n_jobs == 0
    # a missing documentCache entry (meta.get(i, (None, None, None)))
    # survives as nulls, and turn_idx stays an int
    assert [tuple(r) for r in got] == rows
    assert type(got[0]["turn_idx"]) is int
    assert df.schema.simpleString() == (
        "struct<doc_id:bigint,score:double,conv_id:string,turn_idx:int,"
        "role:string>"
    )
    pdf = pd.DataFrame({"doc_id": [4, 2], "score": [0.5, 0.25]})
    n_jobs, got = job_count(local_frame(spark, pdf, SCORE_SCHEMA).collect)
    assert n_jobs == 0 and [tuple(r) for r in got] == [(4, 0.5), (2, 0.25)]


def test_local_frame_empty_is_a_local_relation(spark, job_count):
    for schema in (SCORE_SCHEMA, META_SCHEMA):
        df = local_frame(spark, [], schema)
        assert _plan(df) == "LocalRelation"
        assert df.schema == spark.createDataFrame([], schema).schema
        n_jobs, got = job_count(df.collect)
        assert n_jobs == 0 and got == []


def test_local_frame_tz_aware_timestamps_round_trip(spark):
    """Date facet.range edges (tz-aware datetimes) keep their instant."""
    edges = [
        (
            dt.datetime(2020, 1, 1, tzinfo=dt.timezone.utc),
            dt.datetime(2020, 7, 1, 12, tzinfo=dt.timezone.utc),
        ),
        (
            dt.datetime(2020, 7, 1, 14, tzinfo=dt.timezone(dt.timedelta(hours=2))),
            dt.datetime(2021, 1, 1, tzinfo=dt.timezone.utc),
        ),
    ]
    schema = "bucket timestamp, bucket_end timestamp"
    df = local_frame(spark, edges, schema)
    assert _plan(df) == "LocalRelation"
    epochs = [
        (r[0], r[1])
        for r in df.select(
            F.unix_timestamp("bucket"), F.unix_timestamp("bucket_end")
        ).collect()
    ]
    assert epochs == [
        (int(lo.timestamp()), int(hi.timestamp())) for lo, hi in edges
    ]
    # the same rows through the RDD-backed path collect identically
    assert df.collect() == spark.createDataFrame(edges, schema).collect()


def test_no_bare_create_dataframe_on_the_query_path():
    """Source audit: under index/ and streaming/ only ``local_frame`` may
    call ``createDataFrame`` — a bare call brings back the per-collect
    Spark job. ``index/update.py`` is the write path (a docmap rewrite
    reads its keys once), not a query result."""
    allowed = {"index/update.py"}
    offenders = []
    for sub in ("index", "streaming"):
        for path in sorted((PKG / sub).glob("*.py")):
            rel = f"{sub}/{path.name}"
            if rel in allowed:
                continue
            tree = ast.parse(path.read_text())
            inside = set()
            for node in ast.walk(tree):
                if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                    inside |= set(range(node.lineno, node.end_lineno + 1))
            offenders += [
                f"{rel}:{node.lineno}"
                for node in ast.walk(tree)
                if isinstance(node, ast.Attribute)
                and node.attr == "createDataFrame"
                and node.lineno not in inside
            ]
    assert offenders == [], offenders
