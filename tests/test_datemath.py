"""Solr DateMathParser twin (functions/datemath.py) + its two consumers:
date-math range endpoints in query strings (``ts:[NOW-1YEAR TO NOW]``)
and date facet.range (the /browse ``manufacturedate_dt`` defaults,
conf/solr/docs/conf/solrconfig.xml:907-910)."""

from datetime import datetime, timezone

import pytest

from parser_indexer_py_spark.datagen import generate_transcripts
from parser_indexer_py_spark.functions.datemath import (
    apply_date_math,
    is_date_math,
    parse_date_math,
)
from parser_indexer_py_spark.index.boolean import boolean_search, select
from parser_indexer_py_spark.index.build import build_index
from parser_indexer_py_spark.index.search import load_index


def _u(*a) -> datetime:
    return datetime(*a, tzinfo=timezone.utc)


NOW = _u(2026, 8, 18, 14, 30, 45, 123456)


def test_parse_golden():
    """Solr reference-doc examples, resolved against a fixed NOW."""
    cases = [
        ("NOW", NOW),
        ("NOW/DAY", _u(2026, 8, 18)),
        ("NOW/YEAR-10YEARS", _u(2016, 1, 1)),
        ("NOW-7DAYS", _u(2026, 8, 11, 14, 30, 45, 123456)),
        ("NOW/HOUR+30MINUTES", _u(2026, 8, 18, 14, 30)),
        ("NOW/DAY+6MONTHS+3DAYS", _u(2027, 2, 21)),
        # calendar adds clamp the day like java.util.Calendar
        ("2024-01-31T00:00:00Z+1MONTH", _u(2024, 2, 29)),
        ("2024-03-01T12:00:00.500Z/DAY", _u(2024, 3, 1)),
        ("NOW/MINUTE", _u(2026, 8, 18, 14, 30)),
        ("NOW/MILLI", _u(2026, 8, 18, 14, 30, 45, 123000)),
        ("NOW-1MONTH/MONTH", _u(2026, 7, 1)),
    ]
    for expr, want in cases:
        assert parse_date_math(expr, NOW) == want, expr


def test_parse_errors_and_detection():
    for bad in ("TODAY", "NOW+X", "NOW-1FORTNIGHT", "2024-01-01",
                "2024-01-01T00:00:00", "NOW/", "NOW+5"):
        with pytest.raises(ValueError):
            parse_date_math(bad, NOW)
    assert is_date_math("NOW-7DAYS")
    assert is_date_math("2024-01-01T00:00:00Z")
    assert not is_date_math("user") and not is_date_math("42")
    assert not is_date_math(5) and not is_date_math(None)
    # gap application (facet.range.gap evaluator)
    assert apply_date_math(_u(2026, 1, 31), "+1MONTH") == _u(2026, 2, 28)


@pytest.fixture(scope="module")
def didx(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("didx"))
    build_index(
        spark, generate_transcripts(spark, 150, partitions=4), out,
        n_buckets=8, salt=4, n_chunks=1,
    )
    return load_index(spark, out)


def test_date_math_range_query(didx):
    """``ts:[NOW-<N> TO ...]`` range endpoints resolve against the
    injected NOW (the Solr ``NOW=`` request param) and must equal the
    manual docmap slice; wall-clock default still parses."""
    dm = didx.docmap.select("doc_id", "ts").collect()
    ts = {r["doc_id"]: r["ts"].replace(tzinfo=timezone.utc) for r in dm}
    full = {
        (r["doc_id"], r["score"])
        for r in boolean_search(
            didx, "cedi", k=100_000, with_meta=False
        ).collect()
    }
    cases = [
        # corpus ts spans 2025 only; NOW is 2026-08-18 — windows below
        # deliberately cut PARTWAY through the corpus
        ("cedi ts:[NOW/YEAR-1YEAR TO NOW/YEAR-6MONTHS]",
         lambda t: _u(2025, 1, 1) <= t <= _u(2025, 7, 1)),
        ("cedi ts:[NOW-18MONTHS TO NOW]",
         lambda t: parse_date_math("NOW-18MONTHS", NOW) <= t <= NOW),
        ("cedi ts:{2025-06-01T00:00:00Z TO NOW}",
         lambda t: _u(2025, 6, 1) < t < NOW),
        ("cedi -ts:[NOW/YEAR-1YEAR+3MONTHS TO NOW]",
         lambda t: not (_u(2025, 4, 1) <= t <= NOW)),
    ]
    for q, pred in cases:
        got = {
            (r["doc_id"], r["score"])
            for r in boolean_search(
                didx, q, k=100_000, with_meta=False, now=NOW
            ).collect()
        }
        want = {(d, s) for d, s in full if pred(ts[d])}
        assert got == want, q
        assert 0 < len(want) < len(full), (q, len(want), len(full))


def test_select_resolves_one_now_per_request(didx, monkeypatch):
    """An un-anchored select reads the clock ONCE — q, fq and the date
    facet.range all resolve against that one instant, even with a clock
    that ticks a year per read (a second read would move the fq window
    off the 2025 corpus)."""
    import parser_indexer_py_spark.index.boolean as boolean_mod

    start = _u(2025, 7, 1)
    reads = []

    class TickingClock(datetime):
        @classmethod
        def now(cls, tz=None):
            reads.append(start.replace(year=start.year + len(reads)))
            return reads[-1]

    monkeypatch.setattr(boolean_mod, "datetime", TickingClock)
    q = "cedi ts:[NOW/YEAR-1YEAR TO *]"
    fq = "ts:[NOW/YEAR TO NOW/YEAR+1YEAR}"
    facet = {"facet_range": ("ts", "NOW/YEAR", "NOW/YEAR+1YEAR", "+6MONTHS")}
    for extra in ({}, facet):  # fast page path, then the match-set path
        reads.clear()
        got = select(didx, q, fq=fq, rows=5, **extra)
        assert len(reads) == 1, extra
        want = select(didx, q, fq=fq, rows=5, now=start, **extra)
        page = [(r["doc_id"], r["score"]) for r in got["response"].collect()]
        assert page, extra
        assert page == [
            (r["doc_id"], r["score"]) for r in want["response"].collect()
        ], extra
        if extra:
            assert (
                got["range_facets"].collect()
                == want["range_facets"].collect()
            )


def test_date_facet_range(didx):
    """The /browse date facet defaults shape: monthly buckets over two
    years, every edge emitted (zeros included), counts equal the manual
    bucket walk, bucket widths irregular across month lengths."""
    t = "cedi"
    out = select(
        didx, t, rows=0,
        facet_range=("ts", "NOW/YEAR-1YEAR", "NOW/YEAR", "+1MONTH"),
        now=NOW,
    )["range_facets"].collect()
    assert [r["bucket"].month for r in out] == list(range(1, 13))
    assert all(r["bucket"].year == 2025 for r in out)

    match_ids = {
        r["doc_id"]
        for r in boolean_search(
            didx, t, k=100_000, with_meta=False
        ).collect()
    }
    ts = {
        r["doc_id"]: r["ts"].replace(tzinfo=timezone.utc)
        for r in didx.docmap.select("doc_id", "ts").collect()
    }
    for r in out:
        lo = r["bucket"].replace(tzinfo=timezone.utc)
        hi = apply_date_math(lo, "+1MONTH")
        want = sum(1 for d in match_ids if lo <= ts[d] < hi)
        assert r["n"] == want, (lo, r["n"], want)
    assert sum(r["n"] for r in out) > 0


def test_date_facet_range_contracts(didx):
    with pytest.raises(ValueError, match="gap string"):
        select(didx, "cedi", rows=0,
               facet_range=("ts", "NOW-1YEAR", "NOW", 5), now=NOW)
    with pytest.raises(ValueError, match="end > start"):
        select(didx, "cedi", rows=0,
               facet_range=("ts", "NOW", "NOW-1YEAR", "+1MONTH"), now=NOW)
    with pytest.raises(ValueError, match="buckets"):
        select(didx, "cedi", rows=0,
               facet_range=("ts", "NOW-1YEAR", "NOW", "+1SECOND"), now=NOW)
    # facet_range_other reuses the RESOLVED date bounds
    out = select(
        didx, "cedi", rows=0,
        facet_range=("ts", "2025-06-01T00:00:00Z", "NOW", "+1MONTH"),
        facet_range_other="all", now=NOW,
    )["range_other"].collect()
    got = {r["other"]: r["n"] for r in out}
    assert set(got) == {"before", "after", "between"}
    assert got["before"] > 0 and got["between"] > 0 and got["after"] == 0


def test_datemath_properties():
    """Property gates (hypothesis): add/subtract inversion for
    fixed-width units, rounding idempotence, month-add day clamping,
    and agreement with pandas DateOffset on month arithmetic."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    units = ["DAYS", "HOURS", "MINUTES", "SECONDS", "MILLIS"]
    base = st.datetimes(
        min_value=datetime(1990, 1, 5), max_value=datetime(2200, 12, 25)
    ).map(lambda d: d.replace(tzinfo=timezone.utc))

    @settings(max_examples=200, deadline=None)
    @given(base, st.sampled_from(units), st.integers(0, 10_000))
    def fixed_width_inverts(dt, u, n):
        there = parse_date_math(f"NOW+{n}{u}", dt)
        back = parse_date_math(f"NOW-{n}{u}", there)
        assert back == dt

    fixed_width_inverts()

    @settings(max_examples=200, deadline=None)
    @given(base, st.sampled_from(
        ["YEAR", "MONTH", "DAY", "HOUR", "MINUTE", "SECOND"]
    ))
    def rounding_idempotent(dt, u):
        once = parse_date_math(f"NOW/{u}", dt)
        assert parse_date_math(f"NOW/{u}", once) == once
        assert once <= dt

    rounding_idempotent()

    @settings(max_examples=200, deadline=None)
    @given(base, st.integers(-500, 500))
    def months_match_pandas(dt, n):
        import pandas as pd

        got = parse_date_math(f"NOW{'+' if n >= 0 else '-'}{abs(n)}MONTHS",
                              dt)
        want = (
            pd.Timestamp(dt) + pd.DateOffset(months=n)
        ).to_pydatetime()
        assert got == want, (dt, n)

    months_match_pandas()
