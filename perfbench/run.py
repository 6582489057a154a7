"""Benchmark entry point.

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
the seed, sets the program up several times, drives it in a closed loop
of whole cycles for at least ``--seconds``, checks every output, and
prints the metrics: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of a traced run. The last stdout line is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

from spans import RssSampler, StageCounters, Tracer, process_tree
from workloads import WORKLOADS, Ledger, instrument_catalog

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Set-ups per run; ``setup_s`` is their median. The first one also
#: launches the JVM, so the median is the mean of two of the three
#: set-ups in a warm JVM.
SETUPS = 4

LAYERS = ("session", "catalog", "queries", "dedup", "components", "ml",
          "sources", "ann_index")
_COUNTER_UNITS = {"executor_s": "s", "shuffle_write_bytes": "bytes",
                  "spill_bytes": "bytes", "gc_s": "s", "tasks": "count"}
#: Mean self time per call of these spans.
SPAN_TIMES = {
    "session.create_s": "session.create", "session.warmup_s": "session.warmup",
    "catalog.load_s": "catalog.load",
    "queries.build_s": "queries.build", "queries.exec_s": "queries.exec",
    "dedup.exact_s": "dedup.exact", "dedup.near_pairs_s": "dedup.near_pairs",
    "components.clusters_s": "components.clusters",
    "ml.fit_s": "ml.fit", "ml.predict_s": "ml.predict",
    "sources.write_s": "sources.write",
    "ann_index.build_s": "ann_index.build", "ann_index.probe_s": "ann_index.probe",
    "ann_index.append_s": "ann_index.append",
}
#: Workload gauges: (unit) — 0 on a workload that does not reach the layer.
GAUGES = {
    "dedup.pairs_found": "count", "dedup.planted_found_ratio": "ratio",
    "components.clusters": "count", "ml.accuracy": "ratio",
    "sources.bytes_written": "bytes", "ann_index.files": "count",
    "ann_index.bytes_per_vector": "bytes", "ann_index.recall_at_10": "ratio",
}
PER_LAYER: dict[str, str] = {
    **{k: "s" for k in SPAN_TIMES},
    "ann_index.probe_executor_s": "s",
    "catalog.input_bytes": "bytes",
    **{f"{layer}.{c}": u for layer in LAYERS for c, u in _COUNTER_UNITS.items()},
    **GAUGES,
    "loop.op_tail_s": "s",
    "host.rss_peak_mb": "MB",
    "bench.gen_s": "s",
    "bench.trace_overhead": "ratio",
}
END_TO_END = {"setup_s": "s", "op_latency_s": "s", "ops_per_min": "1/min",
              "quality": "ratio"}
#: Names the metrics go by on each workload, in the report.
NAMES = {
    "warehouse": {"op_latency_s": "query_latency_s", "op_tail_s": "query_tail_s",
                  "ops_per_min": "queries_per_min", "quality": "oracle_match_ratio"},
    "corpus_search": {"op_latency_s": "op_latency_s", "op_tail_s": "probe_tail_s",
                      "ops_per_min": "ops_per_min", "quality": "search_recall_at_10"},
}


def tail(samples: list[float]) -> tuple[float, int, int]:
    """(value, percentile, n): the highest whole percentile, from the
    50th up, with at least ten samples above it (nearest-rank). When
    none qualifies the maximum is reported as the 100th."""
    xs = sorted(samples)
    n = len(xs)
    for p in range(99, 49, -1):
        rank = math.ceil(p * n / 100)
        if rank >= 1 and n - rank >= 10:
            return xs[rank - 1], p, n
    return (xs[-1] if xs else 0.0), 100, n


def op_latency(by_kind: dict[str, list[float]]) -> float:
    """Geometric mean over operation kinds of each kind's median latency,
    so every kind weighs alike and one slow call moves nothing."""
    medians = [statistics.median(v) for v in by_kind.values() if v]
    return statistics.geometric_mean(medians) if medians else 0.0


def new_session(work: str):
    from sparkit_learn_spark.session import get_session

    return get_session("perfbench", master=f"local[{len(os.sched_getaffinity(0))}]",
                       extra_confs={
                           "spark.ui.enabled": "false",
                           "spark.local.dir": os.path.join(work, "spark-local"),
                           "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
                       })


def shutdown(spark) -> None:
    """Stop Spark, then the JVM, and wait until every process this one
    started has ended."""
    from pyspark import SparkContext

    started = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while started and time.monotonic() < deadline:
        started = [p for p in started if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in started:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def layer_metrics(tracer: Tracer, report: dict, rss_mb: float, gen_s: float,
                  wall_s: float) -> dict:
    spans = [s for s in tracer.spans if s.phase != "check"]
    out = {}
    for metric, name in SPAN_TIMES.items():
        times = [s.self_time for s in spans if s.name == name]
        out[metric] = statistics.fmean(times) if times else 0.0
    probes = [s.counters.get("executor_s", 0.0) for s in spans if s.name == "ann_index.probe"]
    out["ann_index.probe_executor_s"] = statistics.fmean(probes) if probes else 0.0
    # by_layer takes each span's counters minus its children's, so a
    # stage read inside nested spans counts once
    loop = tracer.by_layer([s for s in spans if s.phase == "loop"])
    out["catalog.input_bytes"] = (sum(a["input_bytes"] for a in loop.values())
                                  / max(report["ops"], 1))
    agg = tracer.by_layer(spans)
    for layer in LAYERS:
        a = agg.get(layer)
        for c in _COUNTER_UNITS:
            out[f"{layer}.{c}"] = a[c] / a["calls"] if a else 0.0
    for g in GAUGES:
        out[g] = float(report["gauges"].get(g, 0.0))
    out["loop.op_tail_s"] = tail(report["requests"])[0]
    out["host.rss_peak_mb"] = rss_mb
    out["bench.gen_s"] = gen_s
    out["bench.trace_overhead"] = tracer.overhead_s / wall_s
    return {k: {"value": out[k], "unit": PER_LAYER[k]} for k in PER_LAYER}


def run(workload: str, seed: int, seconds: float, traced: bool, work: str) -> dict:
    from sparkit_learn_spark import registry

    tracer = Tracer(traced)
    registry.load_all()
    instrument_catalog(tracer)
    ledger = Ledger()
    wl = WORKLOADS[workload](work, seed, tracer, ledger)
    t0 = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t0

    setups = []
    spark = None
    try:
        with RssSampler() as rss:
            t_wall = time.perf_counter()
            tracer.phase = "setup"
            for _ in range(SETUPS):
                if spark is not None:
                    spark.stop()
                t0 = time.perf_counter()
                tracer.counters = None  # a new SparkContext starts a new status store
                with tracer.span("session.create"):
                    spark = new_session(work)
                if traced:
                    tracer.counters = StageCounters(spark)
                wl.setup(spark)
                setups.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            wl.prepare(spark)
            prepare_s = time.perf_counter() - t0
            tracer.phase = "loop"
            t0 = time.perf_counter()
            while time.perf_counter() - t0 < seconds:
                wl.step(spark)
            loop_s = time.perf_counter() - t0
            wall_s = time.perf_counter() - t_wall
    finally:
        if spark is not None:
            shutdown(spark)
    print(f"perfbench: generate {gen_s:.1f} s, set-ups {[round(s, 1) for s in setups]} s, "
          f"prepare {prepare_s:.1f} s, loop {loop_s:.1f} s", file=sys.stderr)

    if traced:
        spans_path = os.path.join(os.path.dirname(work), f"spans-{workload}-seed{seed}.jsonl")
        tracer.dump(spans_path)
        print(f"perfbench: spans written to {spans_path}", file=sys.stderr)

    rep = wl.report()
    print("perfbench: latencies (s) " + json.dumps(
        {k: [round(x, 3) for x in v] for k, v in rep["op_latencies"].items()}), file=sys.stderr)
    e2e = {
        "setup_s": statistics.median(setups),
        "op_latency_s": op_latency(rep["op_latencies"]),
        "ops_per_min": 60.0 * rep["ops"] / rep["op_time"] if rep["op_time"] else 0.0,
        "quality": rep["quality"],
    }
    return {
        "ledger": ledger, "e2e": e2e, "tail": tail(rep["requests"]), "rss_mb": rss.peak_mb,
        "named": rep["named"],
        "layers": layer_metrics(tracer, rep, rss.peak_mb, gen_s, wall_s) if traced else None,
        "ok": ledger.failed == 0 and bool(rep["requests"]),
    }


def print_report(workload: str, res: dict) -> None:
    """Human-readable lines, each metric by the name it has on this workload."""
    names = NAMES[workload]
    led = res["ledger"]
    for key, value in res["e2e"].items():
        print(f"# {names.get(key, key)} = {value:.6g} {END_TO_END[key]}")
    print("# {} = {:.6g} s (p{} of n={})".format(names["op_tail_s"], *res["tail"]))
    print(f"# peak_rss_mb = {res['rss_mb']:.6g} MB")
    for key, (value, unit) in res["named"].items():
        print(f"# {key} = {value:.6g} {unit}")
    print(f"# failed_ratio = {led.failed / max(led.attempted, 1):.6g} ratio "
          f"({led.failed} of {led.attempted})")
    for p in led.problems:
        print(f"# FAILED {p}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import sparkit_learn_spark.session  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    tmp = tempfile.tempdir = os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, the launcher's too: temp files in the work dir, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={tmp}") if p)
    # Python workers import the package by reference
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        res = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there

    print_report(args.workload, res)
    metrics = res["layers"] if args.trace else {
        k: {"value": v, "unit": END_TO_END[k]} for k, v in res["e2e"].items()}
    led = res["ledger"]
    print(json.dumps({"correct": res["ok"], "attempted": led.attempted,
                      "failed": led.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
