#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_and_lake --seed 1 \\
        --seconds 10 --trace 0

Runs one workload in one fresh Spark session (``local[nproc]``, driver
memory derived from the host), measures whole cycles for ``--seconds``
and prints one JSON object as the last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (end-to-end numbers come only from untraced
runs). The full record (host fingerprint, per-kind samples, tails,
stationarity evidence, spans when traced) is appended to
``.perfbench/records/<workload>.jsonl`` under the checkout root; all
scratch data lives in ``.perfbench/work`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_and_lake", "analytics_queries")
HARD_LIMIT_S = 170


def gated_metrics(result: dict) -> dict:
    """The end-to-end metrics every run reports, from its own per-kind
    medians: set-up time, and geometric means of the per-kind medians
    over all kinds, over the read kinds, and over the heavy kinds (the
    write path in ingest_and_lake, curation in analytics_queries)."""
    from stats import gmean

    p50 = {k: v["p50"] for k, v in result["samples"].items()}
    read, heavy = result["read_kinds"], result["heavy_kinds"]

    def g(kinds):
        vals = [p50.get(k) for k in kinds]
        return None if None in vals else gmean([v * 1000 for v in vals])

    return {
        "setup_s": {"value": result["setup_s"], "unit": "s"},
        "op_gmean_ms": {"value": g(list(read) + list(heavy)), "unit": "ms"},
        "read_gmean_ms": {"value": g(read), "unit": "ms"},
        "heavy_gmean_ms": {"value": g(heavy), "unit": "ms"},
    }


def _layer_common(tracer) -> dict:
    """The seven common counters of every layer, as medians per call
    (0 for a layer the workload never calls)."""
    from metrics_spec import COMMON, LAYERS
    from stats import median

    out = {}
    for layer in LAYERS:
        spans = tracer.layer_spans(layer)
        for c, _, _ in COMMON:
            vals = [s["counters"][c] for s in spans]
            out[f"{layer}.{c}"] = float(median(vals)) if vals else 0.0
    return out


def _jvm_gc_ms(spark) -> float:
    beans = (spark.sparkContext._jvm.java.lang.management.ManagementFactory
             .getGarbageCollectorMXBeans())
    return float(sum(beans.get(i).getCollectionTime()
                     for i in range(beans.size())))


def _previous_untraced(records: str, workload: str, seed: int):
    path = os.path.join(records, f"{workload}.jsonl")
    if not os.path.exists(path):
        return None
    best = None
    with open(path) as f:
        for line in f:
            try:
                r = json.loads(line)
            except ValueError:
                continue
            if r.get("trace") == 0 and r.get("correct"):
                if best is None or r["host"].get("seed") == seed:
                    best = r
    return best


def _stop(spark) -> None:
    """Stop the streams, the session and the JVM it launched, and wait
    for the JVM (and the Python workers it forked) to end."""
    from pyspark import SparkContext

    for q in spark.streams.active:
        q.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    records = os.path.join(base, "records")
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp

    import stats
    import tracer as tracer_mod
    from types import SimpleNamespace

    try:
        from file_stream_import_spark.session import get_spark  # noqa: F401
        import __spark_entry__  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(records, exist_ok=True)

    def _alarm(signum, frame):
        raise TimeoutError(f"run exceeded {HARD_LIMIT_S} s")

    signal.signal(signal.SIGALRM, _alarm)
    signal.alarm(HARD_LIMIT_S)

    n = stats.nproc()
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = stats.driver_memory()
    host = stats.fingerprint(ROOT, args.seed)
    host["driver_memory"] = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    cpu0, load0 = stats.cpu_times(), stats.loadavg()
    if args.trace:
        tracer_mod.install_py4j_counter()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if args.trace:
        conf.update(tracer_mod.RETAIN_CONF)

    spark = None
    record: dict = {"workload": args.workload, "trace": args.trace,
                    "seconds": args.seconds, "host": host}
    result = None
    try:
        p0 = tracer_mod.py4j_calls()
        t0 = time.perf_counter()
        spark = get_spark(master=f"local[{n}]", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        tr = tracer_mod.Tracer(spark, bool(args.trace))
        if args.trace:
            now = time.time()
            tr.spans.append({
                "layer": "session", "name": "get_spark", "cycle": None,
                "parent": None, "start": now - session_s, "end": now,
                "counters": {"wall_ms": session_s * 1000,
                             "driver_ms": session_s * 1000,
                             "py4j_calls": tracer_mod.py4j_calls() - p0,
                             "jobs": 0, "task_cpu_ms": 0.0,
                             "shuffle_write_bytes": 0, "spill_bytes": 0}})
        ctx = SimpleNamespace(spark=spark, tracer=tr, work=work,
                              seed=args.seed, seconds=args.seconds,
                              session_s=session_s)
        if args.workload == "ingest_and_lake":
            import ingest_lake as wl_mod
        else:
            import analytics as wl_mod
        result = wl_mod.run(ctx)

        jvm_pid = spark.sparkContext._gateway.proc.pid
        peak = (stats.vm_hwm_mb(jvm_pid) or 0) + (stats.vm_hwm_mb(os.getpid())
                                                 or 0)
        record["peak_rss_mb"] = peak
        if args.trace:
            per_layer = _layer_common(tr)
            per_layer.update(result["per_layer"])
            per_layer["session.start_s"] = session_s
            per_layer["session.gc_ms"] = _jvm_gc_ms(spark)
            per_layer["session.peak_rss_mb"] = peak
            result["per_layer"] = per_layer
            record["spans"] = tr.spans
            record["layer_self_ms"] = tr.self_time_ms()
            prev = _previous_untraced(records, args.workload, args.seed)
            if prev:
                traced = gated_metrics(result)
                record["trace_overhead"] = {
                    k: traced[k]["value"] - prev["end_to_end"][k]["value"]
                    for k in traced if k in prev["end_to_end"]}
                record["trace_overhead_vs_seed"] = prev["host"]["seed"]
    except Exception as e:  # reported as a failed run, never as a result
        record["error"] = f"{type(e).__name__}: {e}"[:2000]
    finally:
        signal.alarm(0)
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    record["cpu_steal_share"] = stats.steal_share(cpu0, stats.cpu_times())
    record["loadavg_start"], record["loadavg_end"] = load0, stats.loadavg()
    if result is None:
        with open(os.path.join(records, f"{args.workload}.jsonl"), "a") as f:
            f.write(json.dumps(record, default=str) + "\n")
        print(f"perfbench: run failed: {record.get('error')}", file=sys.stderr)
        return 1

    per_layer = result.pop("per_layer")
    record.update(result)
    e2e = gated_metrics(result)
    record["end_to_end"] = e2e
    correct = (result["failed"] == 0 and not result["errors"]
               and all(m["value"] is not None and m["value"] > 0
                       for m in e2e.values()))
    record["correct"] = correct
    if args.trace:
        import metrics_spec

        metrics = {k: {"value": float(per_layer.get(k, 0.0)), "unit": u}
                   for k, u in metrics_spec.per_layer_units().items()}
    else:
        metrics = e2e
    with open(os.path.join(records, f"{args.workload}.jsonl"), "a") as f:
        f.write(json.dumps(record, default=str) + "\n")
    for err in result["errors"]:
        print(f"perfbench: {err}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
