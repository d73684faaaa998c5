"""Benchmark entry point.

    python3 perfbench/run.py --workload {search,ingest} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout. Starts one Spark session with cores =
nproc, makes a fresh seeded corpus, runs the workload's closed loop for
``--seconds`` (whole rounds / cycles, at least one), checks every answer,
and prints two JSON lines: a detail line (provenance, the workload's named
metrics with units and sample counts, errors) and, last, the result line
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones in BENCHMARK.json; with ``--trace 1`` the
per-layer ones, and the spans are written to
``.perfbench_out/trace-<workload>-<seed>.jsonl``. All state lives in a
private temp directory under ``.perfbench_tmp/``, deleted at the end. Exits
nonzero when any answer is wrong or any request raised.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# session.py defaults to 64g, far beyond a small host; 2g holds every
# corpus this benchmark builds without spilling (1g spilled in the builds)
DRIVER_MEM = "2g"


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def metric_specs() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    unit = lambda ms: {m["name"]: m["unit"] for m in ms}
    return unit(spec["end_to_end"]), unit(spec["per_layer"])


def main(argv=None) -> int:
    t_process = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("search", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    e2e_units, layer_units = metric_specs()
    sys.path[:0] = [ROOT, HERE]
    from harness import Tracer, git_head, host_probe
    from parser_indexer_py_spark.session import get_spark
    import workloads

    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    tmp_parent = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_parent, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=tmp_parent)
    for d in ("spark-local", "jvm-tmp"):
        os.makedirs(os.path.join(tmp, d))
    # keep every scratch file of Spark, the JVM and Python inside the run dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(tmp, "jvm-tmp")
    probe_start = host_probe()
    # a SIGTERM must still run the finally below: stop the JVM, drop tmp
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cores=cores, extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            # -Xmn pins the young generation: G1 sizes it from measured
            # pause times, so without it the JVM's peak RSS followed the
            # host's speed (1.24-1.87 GB over ten search runs of one commit)
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(tmp, 'jvm-tmp')} "
                "-XX:-UsePerfData -Xmn256m",
        })
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark, enabled=bool(args.trace))
        run = workloads.Run(spark, tracer, tmp, args.seed, args.seconds)
        body = {
            "search": workloads.search_workload,
            "ingest": workloads.ingest_workload,
        }[args.workload]
        res = body(run)
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    setup_s = res["setup_end"] - t_process
    rss = res["peak_rss_mb"]
    e2e = {**res["e2e"], "setup_s": setup_s, "peak_rss_mb": rss}
    detail = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "cores": cores, "driver_mem": DRIVER_MEM,
        "git_head": git_head(ROOT),
        "host_probe": {"start": probe_start, "end": host_probe()},
        "setup": {"session.start_s": session_s, "datagen.s": res["datagen_s"],
                  "setup_s": setup_s},
        "named": {**res["named"],
                  "setup_s": {"value": setup_s, "unit": "s", "n": 1},
                  "peak_rss_mb": {"value": rss, "unit": "MB", "n": 1},
                  "failed_frac": {"value": run.failed / run.attempted,
                                  "unit": "count", "n": run.attempted}},
        "by_kind_ms": res["by_kind_ms"],
        "p50_by_kind_ms": res["p50_by_kind_ms"],
        "provenance": res["provenance"],
        "errors": run.errors,
    }
    if args.trace:
        layers = {
            **res["layers"],
            "session.start_s": session_s,
            "datagen.s": res["datagen_s"],
            "trace.read_mean_ms": res["e2e"]["read_mean_ms"],
        }
        roots = tracer.roots(args.workload)
        layers["trace.harvest_ms"] = tracer.harvest_s * 1e3 / max(1, len(roots))
        self_s = tracer.self_times()
        layers["request.self_ms"] = sum(
            self_s.get(n, 0.0) for n in {r["name"] for r in roots}
        ) * 1e3 / max(1, len(roots))
        detail["self_ms"] = {k: v * 1e3 for k, v in sorted(self_s.items())}
        detail["not_exercised"] = sorted(set(layer_units) - set(layers))
        units, values = layer_units, layers
        out = os.path.join(ROOT, ".perfbench_out",
                           f"trace-{args.workload}-{args.seed}.jsonl")
        tracer.write_jsonl(out)
        detail["trace_file"] = os.path.relpath(out, ROOT)
    else:
        units, values = e2e_units, e2e
    metrics = {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit in units.items()
    }
    correct = run.failed == 0
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": correct, "attempted": run.attempted,
        "failed": run.failed, "metrics": metrics,
    }))
    for e in run.errors:
        print(e, file=sys.stderr)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
