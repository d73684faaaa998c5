"""The two workloads. Each takes a run context, sets up, runs a closed loop
(one client; each request waits for the previous one) for the requested
seconds, then checks every recorded answer against an independent
expectation: the pure-Python ``BM25Oracle`` for ranked results, a pandas
group-by of the generated corpus for facet counts, and the uncached engine
for cached pages. Checks run after the timed phase and feed no metric.

Corpora come from ``datagen.generate_transcripts``; the seed picks the
conversation-id range (an offset into the generator's id space) and the
query draw. Expected docIDs are derived from the generated rows alone: a
batch build numbers docs in (conv_id, turn_idx) order, and a segment's ids
start at the running doc total of the segments before it.
"""

from __future__ import annotations

import json
import os
import random
import time
import traceback
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import functions as F

from harness import (
    Tracer, dir_bytes, duration_ms, latency_summary, mean, peak_rss_mb,
)
from parser_indexer_py_spark.datagen import generate_transcripts, make_vocab
from parser_indexer_py_spark.functions.queryparser import parse_query
from parser_indexer_py_spark.index import wand
from parser_indexer_py_spark.index.boolean import boolean_search, select
from parser_indexer_py_spark.index.build import build_index
from parser_indexer_py_spark.index.caches import SearcherCaches
from parser_indexer_py_spark.index.oracle import BM25Oracle
from parser_indexer_py_spark.index.search import load_index, search
from parser_indexer_py_spark.streaming.incremental import (
    SegmentedIndex, search_segments_df,
)

# Skewed corpus, as bench.py's topical leaves: the flat corpus saturates the
# block-max bounds, so pruning would always fall back.
TOPICAL = 0.5
MIN_TOKENS = 16
SEARCH_CONVS = 160  # ~5k turns
BATCH_CONVS = 50    # ~1.6k turns per micro-batch
BATCHES_PER_CYCLE = 2
WARM_CONVS = 10    # the ingest warm-up batch
HOT = slice(0, 3)  # the three most frequent vocabulary terms
# Keyword queries take two terms of this band. Mid-frequency terms give
# block-max pruning room to certify at this corpus size; with a near-
# stopword term in the query the pruned path mostly falls back.
BAND = slice(100, 1000)
WARM_BAND = slice(1000, 2000)  # warm-up queries never overlap the pool
K = 10


@dataclass
class Run:
    spark: object
    tracer: Tracer
    tmp: str
    seed: int
    seconds: float
    rng: random.Random = field(init=False)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)

    def __post_init__(self):
        self.rng = random.Random(self.seed)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)


# -- corpus -----------------------------------------------------------------
def write_corpus(run: Run, name: str, n_convs: int, offset: int,
                 batch_convs: int | None = None) -> tuple[str, pd.DataFrame]:
    """Generate conversations [offset, offset + n_convs) to parquet and
    return the path plus the rows as pandas, sorted in docID order. With
    ``batch_convs``, a ``batch`` partition column numbers consecutive runs
    of that many conversations after the first WARM_CONVS, which form
    batch -1."""
    path = os.path.join(run.tmp, name)
    df = generate_transcripts(
        run.spark, offset + n_convs, topical=TOPICAL, min_tokens=MIN_TOKENS
    ).filter(F.col("conv_id") >= f"conv-{offset:08d}")
    if batch_convs:
        num = F.substring("conv_id", 6, 8).cast("int")
        df = df.withColumn(
            "batch", F.floor((num - offset - WARM_CONVS) / batch_convs)
        )
        df.write.partitionBy("batch").parquet(path)
    else:
        df.write.parquet(path)
    pdf = pd.read_parquet(path)
    if "batch" in pdf:
        pdf["batch"] = pdf["batch"].astype(int)
    pdf = pdf.sort_values(["conv_id", "turn_idx"], kind="stable")
    return path, pdf.reset_index(drop=True)


def oracle_for(pdf: pd.DataFrame) -> BM25Oracle:
    """Oracle over rows already in docID order, numbered from 0."""
    return BM25Oracle.from_pandas(
        pdf[["text", "role"]].assign(doc_id=range(len(pdf)))
    )


def text_bytes(pdf: pd.DataFrame) -> int:
    return int(pdf["text"].map(lambda t: len(t.encode("utf-8"))).sum())


def pairs(rows, cols=("doc_id", "score")):
    return [tuple(r[c] for c in cols) for r in rows]


class Vocab:
    def __init__(self, rng: random.Random):
        self.words = make_vocab()
        self.rng = rng

    def pick(self, band: slice, n: int = 1) -> list[str]:
        return self.rng.sample(self.words[band], n)

    def keyword(self, band: slice = BAND) -> str:
        return " ".join(self.pick(band, 2))


def build_manifest_times(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "manifest.json")) as f:
        recs = json.load(f)
    sec = lambda pred: sum(r.get("seconds", 0.0) for r in recs if pred(r["stage"]))
    return {
        "docmap_s": sec(lambda s: s == "docmap"),
        "postings_s": sec(lambda s: s.startswith("postings_chunk_")),
        "termstats_s": sec(lambda s: s == "termstats"),
    }


def index_part_bytes(index_dir: str) -> dict:
    return {
        f"{p}_bytes": dir_bytes(os.path.join(index_dir, p))
        for p in ("docmap", "postings", "termstats")
    }


# -- closed loop ------------------------------------------------------------
def timed(run: Run, name: str, fn, log: list, **attrs) -> None:
    """Run one request under a root span; record (name, seconds, answer).
    An exception counts as a failed request and is reported, not raised."""
    run.attempted += 1
    t0 = time.perf_counter()
    try:
        with run.tracer.span(name, **attrs):
            answer = fn()
    except Exception:  # noqa: BLE001 — the loop must keep serving
        run.fail(f"{name} raised:\n{traceback.format_exc()}")
        return
    log.append({"name": name, "s": time.perf_counter() - t0, "answer": answer,
                **attrs})


def pruned_call(run: Run, make_df) -> dict:
    """A pruned-mode request: rows plus the ``wand.PRUNE_STATS`` deltas it
    caused (which path answered: pass1, pass2, fallback or cutover)."""
    before = dict(wand.PRUNE_STATS)
    rows = call_collect(run, "index.wand", make_df)
    return {
        "rows": pairs(rows),
        "prune": {k: wand.PRUNE_STATS[k] - before[k] for k in before},
    }


def prune_layers(records: list) -> dict:
    """index.wand path counts over the given pruned-request records, and the
    share of pruning attempts that were wasted (fell back to full)."""
    out = {
        f"index.wand.{k}": sum(r["answer"]["prune"][k] for r in records)
        for k in wand.PRUNE_STATS
    }
    attempts = sum(out[f"index.wand.{k}"] for k in ("pass1", "pass2", "fallback"))
    out["index.wand.fallback_frac"] = (
        out["index.wand.fallback"] / attempts if attempts else 0.0
    )
    return out


def call_collect(run: Run, layer: str, make_df):
    """``make_df()`` is the eager driver work of the call; ``collect`` runs
    the lazy plan. Both get their own child span."""
    with run.tracer.span(f"{layer}.call"):
        df = make_df()
    with run.tracer.span(f"{layer}.collect"):
        return df.collect()


def parse_timed(run: Run, text: str) -> None:
    """Trace-only: time the query parser on a request's text."""
    if run.tracer.enabled:
        with run.tracer.span("functions.queryparser.parse"):
            parse_query(text)


# == search =================================================================
def search_workload(run: Run) -> dict:
    spark, tr = run.spark, run.tracer
    vocab = Vocab(run.rng)
    t0 = time.perf_counter()
    offset = run.rng.randrange(SEARCH_CONVS // 8)
    corpus_path, pdf = write_corpus(run, "corpus", SEARCH_CONVS, offset)
    datagen_s = time.perf_counter() - t0

    idx_dir = os.path.join(run.tmp, "index")
    t0 = time.perf_counter()
    with tr.span("setup.build"):
        # one postings chunk, as bench.py builds (the default four chunks
        # exist for resume granularity on large builds)
        build_index(spark, spark.read.parquet(corpus_path), idx_dir,
                    n_chunks=1, positions=True)
    build_s = time.perf_counter() - t0
    idx = load_index(spark, idx_dir).cache()  # query-heavy phase, as bench.py
    caches = SearcherCaches()

    # a phrase of two of the three most frequent terms always matches and
    # costs about the same for every draw; rarer pairs can match nothing
    def phrase() -> str:
        return '"{} {}"'.format(*vocab.pick(HOT, 2))

    def fuzzy(term: str) -> str:
        return term[:-1] + ("q" if term[-1] != "q" else "z") + "~1"

    roles = ("user", "assistant", "tool")

    def engine_round(band: slice, r: int) -> list:
        b, c, d = vocab.pick(band, 3)
        return [
            ("kw_full", {"q": vocab.keyword(band)}),
            ("kw_pruned", {"q": vocab.keyword(band)}),
            # every operator of the classic syntax in one query
            ("lucene", {"q": f"{b} +{c} -{d} {phrase()} {fuzzy(d)}"}),
            ("select", {"q": vocab.keyword(band), "fq": f"role:{roles[r % 3]}"}),
        ]

    # The cached pool: page 1 and page 2 of one query, and page 1 of a
    # second query, all under one fq. Page 2 lies inside the first page's
    # queryResultWindowSize, so the pool has two query-result keys and one
    # filter key, and the three caches see different hit ratios: the
    # second query misses the query-result cache but hits the filter
    # cache, and the document cache hits only where the two queries share
    # top documents. Each engine-path request is followed by two cached
    # requests (an assumed mix; no traffic log exists for this system). A
    # run's first round touches every entry once, in seeded order, and
    # draws the rest by Zipf, so each run has two query-result misses
    # among its eight cached requests.
    q1, q2 = vocab.keyword(BAND), vocab.keyword(BAND)
    pool = [{"q": q, "fq": "role:assistant", "start": s}
            for q, s in ((q1, 0), (q1, 10), (q2, 0))]
    zipf = [1 / (j + 1) for j in range(len(pool))]

    def round_requests(r: int) -> list:
        draws = run.rng.choices(range(len(pool)), zipf, k=8)
        if r == 0:
            draws[: len(pool)] = run.rng.sample(range(len(pool)), len(pool))
        out = []
        for i, req in enumerate(engine_round(BAND, r)):
            out.append(req)
            out += [("cached", {"entry": j, **pool[j]})
                    for j in draws[2 * i: 2 * i + 2]]
        return out

    def do(kind: str, spec: dict):
        if kind == "kw_full":
            rows = call_collect(
                run, "index.search", lambda: search(idx, spec["q"], k=K)
            )
            return {"rows": pairs(rows)}
        if kind == "kw_pruned":
            return pruned_call(run, lambda: search(
                idx, spec["q"], k=K, mode="pruned", full_cutover=0
            ))
        if kind == "lucene":
            parse_timed(run, spec["q"])
            rows = call_collect(
                run, "index.boolean", lambda: boolean_search(idx, spec["q"], k=K)
            )
            return {"rows": pairs(rows)}
        if kind == "select":
            parse_timed(run, spec["q"])
            parse_timed(run, spec["fq"])
            res = {}

            def make():
                res.update(select(idx, q=spec["q"], fq=spec["fq"], rows=K,
                                  facet_field="tool"))
                return res["response"]

            rows = call_collect(run, "index.boolean", make)
            with tr.span("index.boolean.collect"):
                facets = [(r["tool"], r["n"]) for r in res["facets"].collect()]
            return {"rows": pairs(rows), "facets": facets}
        # cached
        parse_timed(run, spec["q"])
        before = caches.stats
        rows = call_collect(
            run, "index.caches",
            lambda: caches.search(idx, spec["q"], rows=K, start=spec["start"],
                                  fq=spec["fq"]),
        )
        after = caches.stats
        delta = {
            c: {k: after[c][k] - before[c][k]
                for k in ("hits", "misses", "evictions")}
            for c in after
        }
        return {
            "rows": pairs(rows, ("doc_id", "score", "conv_id", "turn_idx", "role")),
            "cache": delta,
        }

    # warm-up, untraced, outside the measured pool: the Lucene query of a
    # warm-up round through a throwaway SearcherCaches, under an fq the pool
    # does not use. One request, to stay inside the benchmark's time budget,
    # warms both the boolean path that Lucene, select and the cached
    # requests share (its first call costs about twice a warm one: 6.1 s
    # against 3.1-3.3 s on 4 cores) and the cached path's own first calls.
    warm = SearcherCaches()
    warm.search(idx, engine_round(WARM_BAND, 0)[2][1]["q"], rows=K,
                fq="role:user").collect()
    warm.invalidate()
    setup_end = time.perf_counter()

    # whole rounds only, at least one, so every run sees the same mix
    log: list = []
    t_start = time.perf_counter()
    r = 0
    while r == 0 or time.perf_counter() - t_start < run.seconds:
        for kind, spec in round_requests(r):
            timed(run, f"search.{kind}", lambda: do(kind, spec), log,
                  kind=kind, spec=spec)
        r += 1
    wall = time.perf_counter() - t_start
    rss = peak_rss_mb(spark)  # before the checks, which are not the program's

    # -- checks (untimed) ------------------------------------------------
    oracle = oracle_for(pdf)
    n_docs = load_index(spark, idx_dir).n_docs
    run.attempted += 1
    if n_docs != len(pdf):
        run.fail(f"index has {n_docs} docs, corpus {len(pdf)}")
    uncached: dict = {}
    for rec in log:
        kind, spec, ans = rec["kind"], rec["spec"], rec["answer"]
        bad = []
        if kind in ("kw_full", "kw_pruned"):
            want = oracle.search(spec["q"], K)
        elif kind == "lucene":
            want = oracle.boolean_search(spec["q"], K)
        elif kind == "select":
            role = spec["fq"].split(":", 1)[1]
            matches = oracle.boolean_search(spec["q"], len(pdf), role=role)
            want = matches[:K]
            facets = expected_facets(pdf, [d for d, _ in matches])
            if ans["facets"] != facets:
                bad.append(f"facets {ans['facets']} != {facets}")
        else:
            key = spec["entry"]
            if key not in uncached:
                need = spec["start"] + K
                full = boolean_search(idx, spec["q"], k=need, fq=spec["fq"]).collect()
                uncached[key] = pairs(
                    full, ("doc_id", "score", "conv_id", "turn_idx", "role")
                )[spec["start"]:need]
            want = uncached[key]
        if ans["rows"] != want:
            bad.append(f"engine {ans['rows'][:3]}... != expected {want[:3]}...")
        if bad:
            run.fail(f"{kind} {spec}: " + "; ".join(bad))
    idx.uncache()

    engine = [r["s"] for r in log if r["kind"] != "cached"]
    cached = [r["s"] for r in log if r["kind"] == "cached"]
    lat, clat = latency_summary(engine), latency_summary(cached)
    index_bytes = dir_bytes(idx_dir)
    input_bytes = text_bytes(pdf)
    return {
        "setup_end": setup_end,
        "peak_rss_mb": rss,
        "datagen_s": datagen_s,
        "e2e": {
            "read_mean_ms": mean(engine) * 1e3,
            "side_mean_ms": mean(cached) * 1e3,
            "throughput_per_s": len(log) / wall,
            "index_bytes_per_input_byte": index_bytes / input_bytes,
        },
        "named": {
            "query_p50_ms": {"value": lat["p50_ms"], "unit": "ms", "n": lat["n"]},
            "query_tail_ms": {"value": lat["tail_ms"], "unit": "ms",
                              "n": lat["n"], "percentile": lat["tail_pct"]},
            "cached_query_p50_ms": {"value": clat["p50_ms"], "unit": "ms",
                                    "n": clat["n"]},
            "search_requests_per_s": {"value": len(log) / wall, "unit": "1/s",
                                      "n": len(log)},
            "index_bytes_per_input_byte": {"value": index_bytes / input_bytes,
                                           "unit": "count", "n": 1},
            "build_turns_per_s": {"value": len(pdf) / build_s, "unit": "1/s",
                                  "n": 1},
        },
        "layers": search_layers(tr, log, idx_dir) if tr.enabled else {},
        "by_kind_ms": by_kind(log),
        "p50_by_kind_ms": p50_by_kind(log),
        "provenance": {
            "offset": offset, "turns": len(pdf),
            "queries": [[r["kind"], r["spec"].get("q"), r["spec"].get("fq"),
                         r["spec"].get("start")] for r in log],
        },
    }


def by_kind(log: list) -> dict:
    """Every measured latency in ms, grouped by request kind."""
    out: dict = {}
    for r in log:
        out.setdefault(r["kind"], []).append(round(r["s"] * 1e3, 1))
    return out


def p50_by_kind(log: list) -> dict:
    return {k: latency_summary([r["s"] for r in log if r["kind"] == k])["p50_ms"]
            for k in dict.fromkeys(r["kind"] for r in log)}


def expected_facets(pdf, doc_ids: list) -> list:
    """facet.field=tool over the given docs (rows of ``pdf`` in docID
    order): Solr count order (count desc, value asc), nulls left out."""
    rows = pdf.iloc[sorted(doc_ids)]
    counts = rows[rows["tool"].notna()].groupby("tool").size()
    return sorted(((t, int(n)) for t, n in counts.items()),
                  key=lambda x: (-x[1], x[0]))[:10]


def layer_counts(tr: Tracer, layer: str) -> dict:
    """Per-request means for one engine layer."""
    spans = tr.named(f"{layer}.call") + tr.named(f"{layer}.collect")
    n = len({s["root"] for s in spans}) or 1
    total = lambda key: sum(s[key] for s in spans) / n
    ms = lambda suffix: sum(
        s["end"] - s["start"] for s in spans if s["name"].endswith(suffix)
    ) * 1e3 / n
    return {
        f"{layer}.call_ms": ms(".call"),
        f"{layer}.collect_ms": ms(".collect"),
        f"{layer}.jobs": total("jobs"),
        f"{layer}.tasks": total("tasks"),
        f"{layer}.shuffle_bytes": total("shuffle_write_bytes"),
    }


def build_layers(spans: list, index_dirs: list) -> dict:
    """index.build.* per build: manifest stage times, Spark counters of the
    spans that ran the builds, and bytes of the resulting index parts."""
    n = len(index_dirs) or 1
    out = {}
    for d in index_dirs:
        for k, v in {**build_manifest_times(d), **index_part_bytes(d)}.items():
            out[f"index.build.{k}"] = out.get(f"index.build.{k}", 0) + v / n
    for k in ("jobs", "tasks", "failed_tasks", "shuffle_write_bytes",
              "spill_bytes"):
        out[f"index.build.{k}"] = sum(s[k] for s in spans) / n
    return out


def search_layers(tr: Tracer, log: list, idx_dir: str) -> dict:
    out = build_layers(tr.named("setup.build"), [idx_dir])
    for layer in ("index.search", "index.wand", "index.boolean"):
        out.update(layer_counts(tr, layer))
    out["functions.queryparser.parse_us"] = (
        duration_ms(tr.named("functions.queryparser.parse")) * 1e3
    )
    out.update(prune_layers([r for r in log if r["kind"] == "kw_pruned"]))
    cached = [r for r in log if r["kind"] == "cached"]
    for c in ("filter", "query_result", "document"):
        h = sum(r["answer"]["cache"][c]["hits"] for r in cached)
        m = sum(r["answer"]["cache"][c]["misses"] for r in cached)
        out[f"index.caches.{c}_hits"] = h
        out[f"index.caches.{c}_misses"] = m
        out[f"index.caches.{c}_hit_ratio"] = h / (h + m) if h + m else 0.0
    out["index.caches.evictions"] = sum(
        d["evictions"] for r in cached for d in r["answer"]["cache"].values()
    )
    hit = [r["s"] for r in cached if r["answer"]["cache"]["query_result"]["hits"]]
    miss = [r["s"] for r in cached if not r["answer"]["cache"]["query_result"]["hits"]]
    out["index.caches.hit_ms"] = mean(hit) * 1e3
    out["index.caches.miss_ms"] = mean(miss) * 1e3
    return out


# == ingest =================================================================
def ingest_workload(run: Run) -> dict:
    spark, tr = run.spark, run.tracer
    vocab = Vocab(run.rng)
    n_convs = WARM_CONVS + BATCHES_PER_CYCLE * BATCH_CONVS
    t0 = time.perf_counter()
    offset = run.rng.randrange(n_convs // 8)
    path, pdf = write_corpus(run, "corpus", n_convs, offset,
                             batch_convs=BATCH_CONVS)
    datagen_s = time.perf_counter() - t0
    src = spark.read.parquet(path)
    batches = {
        b: g.drop(columns="batch").reset_index(drop=True)
        for b, g in pdf.groupby("batch")
    }

    def append(seg: SegmentedIndex, batch: int, epoch: int) -> dict:
        with tr.span("streaming.incremental.append"):
            seg.append_batch(
                src.filter(F.col("batch") == batch).drop("batch"), epoch
            )
        return {"dir": seg.commits()[-1]["dir"]}

    def compact(seg: SegmentedIndex) -> dict:
        segments = len(seg.commits())
        with tr.span("streaming.incremental.compact"):
            rec = seg.compact_tiered()
        return {"dir": rec and rec["dir"], "segments": segments}

    def query(seg: SegmentedIndex, q: str, pruned: bool) -> dict:
        if pruned:
            return pruned_call(run, lambda: search_segments_df(
                seg, q, k=K, mode="pruned", full_cutover=0
            ))
        rows = call_collect(
            run, "index.search", lambda: search_segments_df(seg, q, k=K)
        )
        return {"rows": pairs(rows)}

    # warm-up, untraced: a small append into a throwaway root and a full
    # query over it on terms outside the measured pool (the first build in
    # a process costs about twice a warm one, the first query about 1.3x)
    tracing, tr.enabled = tr.enabled, False
    warm = SegmentedIndex(spark, os.path.join(run.tmp, "warm"))
    append(warm, -1, 0)
    query(warm, vocab.keyword(WARM_BAND), False)
    tr.enabled = tracing
    setup_end = time.perf_counter()

    # Every cycle starts a fresh segmented root and appends the same
    # batches, so every cycle has the same shape: after each append a fresh
    # full query over the segments so far, after the last append also a
    # fresh pruned one, then one tiered compaction and the last full query
    # again over the merged segment. The pruned query is not repeated after
    # compaction, to stay inside the time budget (it is the costliest
    # request here, 6-10 s over two segments on 4 cores).
    log: list = []
    cycles: list = []
    t_start = time.perf_counter()
    c = 0
    while c == 0 or time.perf_counter() - t_start < run.seconds:
        seg = SegmentedIndex(spark, os.path.join(run.tmp, f"cycle-{c}"))
        t_cycle = time.perf_counter()

        def read(state: str, visible: int, q: str, pruned: bool) -> None:
            timed(run, "ingest.query", lambda: query(seg, q, pruned), log,
                  kind=f"query.{state}" + (".pruned" if pruned else ""),
                  cycle=c, state=state, visible=visible, q=q, pruned=pruned)

        for b in range(BATCHES_PER_CYCLE):
            timed(run, "ingest.append", lambda: append(seg, b, b), log,
                  kind="append", cycle=c, batch=b)
            q = vocab.keyword()
            read(f"segs{b + 1}", b + 1, q, False)
        read(f"segs{BATCHES_PER_CYCLE}", BATCHES_PER_CYCLE, vocab.keyword(),
             True)
        timed(run, "ingest.compact", lambda: compact(seg), log,
              kind="compact", cycle=c)
        read("compacted", BATCHES_PER_CYCLE, q, False)
        cycles.append({"s": time.perf_counter() - t_cycle,
                       "live": [x["dir"] for x in seg.commits()]})
        c += 1
    rss = peak_rss_mb(spark)  # before the checks, which are not the program's

    # -- checks (untimed) ------------------------------------------------
    oracles: dict = {}
    for rec in log:
        if rec["kind"] == "compact" and not rec["answer"]["dir"]:
            run.fail(f"cycle {rec['cycle']}: compact_tiered merged nothing")
        if not rec["kind"].startswith("query"):
            continue
        if rec["visible"] not in oracles:
            # global docIDs: each segment's ids start at the docs before it
            oracles[rec["visible"]] = oracle_for(pd.concat(
                [batches[b] for b in range(rec["visible"])], ignore_index=True
            ))
        want = oracles[rec["visible"]].search(rec["q"], K)
        if rec["answer"]["rows"] != want:
            run.fail(f"ingest {rec['kind']} {rec['q']!r}: "
                     f"{rec['answer']['rows'][:3]}... != {want[:3]}...")
    cycle_turns = sum(len(batches[b]) for b in range(BATCHES_PER_CYCLE))
    for i, cyc in enumerate(cycles):
        run.attempted += 1
        got = sum(load_index(spark, d).n_docs for d in cyc["live"])
        if len(cyc["live"]) != 1 or got != cycle_turns:
            run.fail(f"cycle {i}: live segments {cyc['live']} hold {got} "
                     f"docs, appended {cycle_turns}")

    reads = [r["s"] for r in log if r["kind"].startswith("query")]
    appends = [r["s"] for r in log if r["kind"] == "append"]
    compacts = [r["s"] for r in log if r["kind"] == "compact"]
    lat = latency_summary(reads)
    turns = cycle_turns * len(cycles)
    wall = sum(cyc["s"] for cyc in cycles)
    input_bytes = sum(text_bytes(batches[b]) for b in range(BATCHES_PER_CYCLE))
    ratio = mean(sum(dir_bytes(d) for d in cyc["live"]) / input_bytes
                 for cyc in cycles)
    return {
        "setup_end": setup_end,
        "peak_rss_mb": rss,
        "datagen_s": datagen_s,
        "e2e": {
            "read_mean_ms": mean(reads) * 1e3,
            "side_mean_ms": mean(appends) * 1e3,
            "throughput_per_s": turns / wall,
            "index_bytes_per_input_byte": ratio,
        },
        "named": {
            "append_turns_per_s": {"value": turns / sum(appends),
                                   "unit": "1/s", "n": len(appends)},
            "fresh_query_p50_ms": {"value": lat["p50_ms"], "unit": "ms",
                                   "n": lat["n"]},
            "fresh_query_tail_ms": {"value": lat["tail_ms"], "unit": "ms",
                                    "n": lat["n"],
                                    "percentile": lat["tail_pct"]},
            "compact_s": {"value": latency_summary(compacts)["p50_ms"] / 1e3,
                          "unit": "s", "n": len(compacts)},
            "index_bytes_per_input_byte": {"value": ratio, "unit": "count",
                                           "n": len(cycles)},
        },
        "layers": ingest_layers(tr, log) if tr.enabled else {},
        "by_kind_ms": by_kind(log),
        "p50_by_kind_ms": p50_by_kind(log),
        "provenance": {
            "offset": offset, "turns": len(pdf), "cycles": len(cycles),
            "queries": [[r["kind"], r["q"]] for r in log
                        if r["kind"].startswith("query")],
        },
    }


def ingest_layers(tr: Tracer, log: list) -> dict:
    seg_dirs = [r["answer"]["dir"] for r in log if r["kind"] == "append"]
    appends = tr.named("streaming.incremental.append")
    out = build_layers(appends, seg_dirs)
    for layer in ("index.search", "index.wand"):
        out.update(layer_counts(tr, layer))
    out.update(prune_layers([r for r in log if r["kind"].endswith(".pruned")]))
    compacts = [r["answer"] for r in log if r["kind"] == "compact"]
    n = len(seg_dirs) or 1
    out.update({
        "streaming.incremental.append_s": duration_ms(appends) / 1e3,
        "streaming.incremental.append_jobs":
            sum(s["jobs"] for s in appends) / n,
        "streaming.incremental.append_bytes_written":
            sum(dir_bytes(d) for d in seg_dirs) / n,
        "streaming.incremental.compact_s":
            duration_ms(tr.named("streaming.incremental.compact")) / 1e3,
        "streaming.incremental.compact_bytes_rewritten":
            mean(dir_bytes(a["dir"]) for a in compacts if a["dir"]),
        "streaming.incremental.segments":
            mean(a["segments"] for a in compacts),
    })
    # full-mode queries only, so each state is read on the same kind of
    # request; the compacted state reruns the last segs<N> query's terms
    for state in [f"segs{b + 1}" for b in range(BATCHES_PER_CYCLE)] + ["compacted"]:
        mine = [s for s in tr.roots("ingest.query")
                if s["attrs"]["state"] == state and not s["attrs"]["pruned"]]
        cnt = [tr.tree_counters(s) for s in mine]
        m = len(cnt) or 1
        out[f"streaming.merged.{state}.query_ms"] = duration_ms(mine)
        out[f"streaming.merged.{state}.jobs"] = sum(x["jobs"] for x in cnt) / m
        out[f"streaming.merged.{state}.shuffle_bytes"] = (
            sum(x["shuffle_write_bytes"] for x in cnt) / m
        )
    return out
