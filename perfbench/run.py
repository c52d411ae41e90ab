"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The run builds its inputs from the seed
under ``.perfbench_work/`` in the current directory, removes them at the
end, and prints a report followed by one JSON line with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.

A run starts one Spark session, builds the workload's fixture and makes
one untimed warm pass. The first pass pays JIT compilation and code
generation (graph_pagerank ran about twice as slow in it), so timing
starts after it; ``setup_s`` covers session start, fixture and warm pass.
Then the timed phase runs closed-loop ops for ``--seconds`` on average:
a client starts another op only while one more at the pace of the last
would end no more than half an op past the deadline.

``--trace 0`` reports the end-to-end metrics with tracing off.
``--trace 1`` starts the session with Spark's event log on and splits
the timed phase into three parts of a third each: spans off, spans on
around each layer's entry points, spans off again. It reports the
per-layer metrics of the traced part plus ``tracing.overhead_s``: its
median op time minus the mean of the two untraced parts' medians. The
event log cannot be switched within a session, so it runs throughout;
its listener writes off the query threads.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.getcwd()


def _workloads() -> dict:
    from graph_workload import IterativeGraph
    from sql_workload import SqlApi

    return {w.name: w for w in (IterativeGraph, SqlApi)}


def start_session(name: str, work: str, trace: bool):
    from corkscrew_spark.session import get_spark
    from measure import SLOTS

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(app_name=f"perfbench-{name}", master=f"local[{SLOTS}]",
                      shuffle_partitions=SLOTS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def declared(kind: str) -> dict[str, str]:
    """Metric name -> unit as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def conform(metrics: dict, kind: str) -> dict:
    """Exactly the declared metrics, in declared order. A layer a
    workload never calls reports 0.0 per-layer; a missing end-to-end
    metric, or a produced one that is not declared or carries another
    unit, is a benchmark bug."""
    want = declared(kind)
    for name, (_, unit) in metrics.items():
        if want.get(name) != unit:
            raise RuntimeError(f"{name} [{unit}] is not declared in "
                               f"BENCHMARK.json {kind}")
    if kind == "end_to_end" and set(want) - set(metrics):
        raise RuntimeError(f"end-to-end metrics not measured: "
                           f"{sorted(set(want) - set(metrics))}")
    return {name: {"value": metrics.get(name, (0.0, unit))[0], "unit": unit}
            for name, unit in want.items()}


def calibrate(spark) -> float:
    """bench.py's host-speed anchor: a fixed CPU-bound job, min of 3."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(50_000_000).selectExpr(
            "sum(crc32(cast(id as string)))").collect()
        best = min(best, time.perf_counter() - t0)
    return best


def run(cls, seed: int, seconds: float, work: str, trace: bool) -> dict:
    from measure import EventLog, RssSampler, Tracer, find_event_log

    out: dict = {}
    live: dict = {}
    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = start_session(cls.name, work, trace)
        out["start_s"] = time.perf_counter() - t0
        tracer = Tracer(spark.sparkContext, enabled=False)
        wl = cls(spark, work, seed, tracer, trace)
        try:
            wl.build()
            out["build_s"] = time.perf_counter() - t0 - out["start_s"]
            out["checked"], out["wrong"] = wl.warm_and_check()
            out["setup_s"] = time.perf_counter() - t0
            # traced runs split the timed length into untraced, traced
            # and untraced parts: the mean of the two untraced parts
            # cancels a steady drift out of tracing.overhead_s
            parts = (("untraced", "traced", "untraced_after") if trace
                     else ("untraced",))
            for half in parts:
                tracer.enabled = half == "traced"
                w0, p0 = time.time(), time.perf_counter()
                out[half] = wl.measure(seconds / len(parts))
                out[f"{half}_s"] = time.perf_counter() - p0
                if tracer.enabled:
                    tracer.window = (w0, w0 + out[f"{half}_s"])
                    live = wl.live_metrics()
                    tracer.enabled = False
            out["anchor_s"] = calibrate(spark)
        finally:
            wl.close()
            spark.stop()
    out["peak_rss_mb"] = rss.peak / 2**20
    if trace:
        log = EventLog(find_event_log(os.path.join(work, "eventlog")))
        out["layers"] = {**live, **wl.layer_metrics(log),
                         **spark_metrics(log, tracer.window, len(out["traced"]))}
        traces = os.path.join(ROOT, ".perfbench_work", "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.write(os.path.join(traces, f"{cls.name}-{seed}.spans.jsonl"))
    return out


def spark_metrics(log, window: tuple[float, float], n_ops: int) -> dict:
    """Whole-system Spark counters over the traced timed phase."""
    from measure import SLOTS, union_length

    lo, hi = window
    jobs = [j for j in log.jobs.values()
            if j["end"] is not None and lo <= j["start"] < hi]
    busy = union_length([(j["start"], j["end"]) for j in jobs], lo, hi)
    return {
        "spark.jobs_per_op": (len(jobs) / n_ops, "count"),
        "spark.driver_gap_share": (1.0 - busy / (hi - lo), "ratio"),
        "spark.slot_util": (sum(j["run_s"] for j in jobs) / ((hi - lo) * SLOTS),
                            "ratio"),
    }


def end_to_end(res: dict, half: str = "untraced") -> dict:
    from measure import median, tail

    lat = [t for t, _ in res[half]]
    return {
        "setup_s": (res["setup_s"], "s"),
        "ops_per_s": (len(lat) / res[f"{half}_s"], "1/s"),
        "op_p50_s": (median(lat), "s"),
        "op_tail_s": (tail(lat)[0], "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }


def outcome(res: dict) -> tuple[int, int]:
    """(attempted, failed): warm-pass checks plus every timed op."""
    ops = res["untraced"] + res.get("traced", []) + res.get("untraced_after", [])
    return (res["checked"] + len(ops),
            res["wrong"] + sum(not ok for _, ok in ops))


def report(res: dict) -> None:
    from measure import failed_ratio, tail

    print(f"session start {res['start_s']:.3f} s, fixture {res['build_s']:.3f} s, "
          f"warm pass {res['setup_s'] - res['start_s'] - res['build_s']:.3f} s")
    attempted, failed = outcome(res)
    print(f"failed_ratio {failed_ratio(attempted, failed):.6f} "
          f"({failed} of {attempted})")
    for half in ("untraced", "traced", "untraced_after"):
        if half not in res:
            continue
        lat = [t for t, _ in res[half]]
        print(f"[{half}] ops={len(lat)} in {res[f'{half}_s']:.3f} s; "
              f"op_tail_s is {tail(lat)[1]} of n={len(lat)}")
        for name, (value, unit) in end_to_end(res, half).items():
            print(f"[{half}] {name} {value:.6f} {unit}")


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM it launched (the
    JVM's Python workers end with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "corkscrew_spark", "__init__.py")):
        print("perfbench: corkscrew_spark/ not found; run from the "
              "repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    declared("end_to_end")  # fail before any work if it is missing
    workloads = _workloads()
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads)}", file=sys.stderr)
        return 2
    cls = workloads[args.workload]

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        res = run(cls, args.seed, args.seconds, work, bool(args.trace))
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)

    from measure import SLOTS, median

    report(res)
    if args.trace:
        metrics = dict(res["layers"])
        metrics["session.start_s"] = (res["start_s"], "s")
        p50 = {h: median([t for t, _ in res[h]])
               for h in ("untraced", "traced", "untraced_after")}
        metrics["tracing.overhead_s"] = (
            p50["traced"] - (p50["untraced"] + p50["untraced_after"]) / 2, "s")
    else:
        metrics = end_to_end(res)
    print("meta " + json.dumps({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "clients": cls.clients, "model": "closed-loop", "slots": SLOTS,
        "host_anchor_s": res["anchor_s"],
        "host_anchor": "sum(crc32(cast(id as string))) over 50M rows, min of 3"}))
    attempted, failed = outcome(res)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": conform(metrics, "per_layer" if args.trace else "end_to_end"),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
