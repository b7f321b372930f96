#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON summary line.

    python3 perfbench/run.py --workload search --seed 1 --seconds 15 --trace 0

Run from the repository root.  The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports the
end-to-end metrics of BENCHMARK.json, ``--trace 1`` the per-layer ones.
Per-run detail (latencies, layer spans, Spark task metrics per layer,
process-tree samples) goes to ``perfbench/out/<workload>-seed<n>-trace<t>.json``.
The exit code is 0 only when every output matched the oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MASTER = "local[4]"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("search", "ingest_batch"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs, for the benchmark's own self-test")
    args = p.parse_args(argv)
    if args.seed < 0 or args.seconds <= 0:
        p.error("--seed must be >= 0 and --seconds > 0")
    return args


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    for d in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    # Python workers import the engine from this checkout
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    sys.dont_write_bytecode = True


def start_spark(work: str, master: str, event_log: bool):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(master)
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "1g")
        .config("spark.driver.extraJavaOptions",
                f"-Xms1g -XX:+AlwaysPreTouch -Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", str(event_log).lower())
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.dir", os.path.join(work, "events"))
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, tree) -> None:
    """Stop the context, then the JVM and every worker process it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    while tree.alive_descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in tree.alive_descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def quantile(xs, q: float) -> float:
    import numpy as np

    return float(np.percentile(np.asarray(xs, dtype=float), q))


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    out_dir = os.path.join(HERE, "out")
    work = os.path.join(out_dir, f"work-{args.workload}-{os.getpid()}")
    isolate(work)
    sys.path.insert(0, ROOT)
    try:
        return run(args, spec, t_start, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, spec: dict, t_start: float, work: str, out_dir: str) -> int:
    # fails here, before any output, when the engine is not in the checkout
    from perfbench import eventlog, workloads
    from perfbench.tracing import ProcTree, Sampler, Tracer, cpu_delta, load1, steal_share

    size = workloads.SIZES["smoke" if args.smoke else "full"]
    tree = ProcTree()
    sampler = Sampler(tree).start()
    detail: dict = {"args": vars(args), "size": size, "master": MASTER}
    spark = None
    try:
        spark = start_spark(work, MASTER, event_log=bool(args.trace))
        wl = workloads.WORKLOADS[args.workload](spark, tree, work, args.seed, size)
        wl.setup()
        if not wl.SPARK_WHEN_TIMED:
            # the timed part never calls Spark: stop the session, so that its
            # JVM and workers neither run nor count while it is timed
            stop_spark(spark, tree)
            spark = wl.spark = None
        os.sync()  # no writeback of set-up's files while timed
        wl.warm_up(bool(args.trace))
        setup_s = time.perf_counter() - t_start

        sampler.phase = "timed"
        blocks = wl.loop(args.seconds)
        lat = [x for b in blocks for x in b["lat"]]
        timed = sampler.in_phase("timed") or [sampler.sample()]
        # rates are medians over the run's blocks (search passes, ingest
        # rounds), so a burst of co-tenant load in one block does not move them
        e2e = {
            "setup_s": setup_s,
            "ops_per_s": statistics.median(len(b["lat"]) / sum(b["lat"]) for b in blocks),
            "op_p50_ms": statistics.median(lat) * 1e3,
            "cpu_ms_per_op": statistics.median(b["cpu_s"] / len(b["lat"]) for b in blocks) * 1e3,
            "peak_rss_mb": max(s["pss_mb"] for s in timed),
        }
        detail["latencies_s"] = lat
        detail["blocks"] = [{"ops": len(b["lat"]), "lat_s": sum(b["lat"]), "wall_s": b["wall_s"],
                             "cpu_s": b["cpu_s"]} for b in blocks]
        detail["timed_host"] = {"load1_max": max(s["load1"] for s in timed),
                                "steal_share": steal_share(timed)}

        if args.trace:
            tracer = Tracer(spark and spark.sparkContext, tree)
            wl.instrument(tracer)
            sampler.phase = "traced"
            before = tree.snapshot()
            t0 = time.perf_counter()
            traced_lat = [x for b in wl.loop(args.seconds, tracer) for x in b["lat"]]
            traced_wall = time.perf_counter() - t0
            cpu = cpu_delta(before, tree.snapshot())
            tracer.unpatch()
            layers = tracer.layers()
            sampler.phase = "after_trace"

            def restart(master):
                wl.spark.stop()
                return start_spark(work, master, event_log=True)

            extra = wl.after_trace(restart)
            spark = wl.spark
            detail["traced_latencies_s"] = traced_lat
            detail["layers"] = layers
            detail["counters"] = dict(tracer.counters)

        sampler.phase = "check"
        attempted, failed, problems = wl.check()
        e2e["index_bytes_per_text_byte"] = wl.index_bytes_per_text_byte()
    finally:
        if spark is not None:
            stop_spark(spark, tree)
        sampler.stop()

    if args.trace:
        spark_layers = eventlog.layer_metrics(os.path.join(work, "events"))
        blocking = sum(d["self_s"] for d in layers.values() if not d["concurrent"])
        traced = sampler.in_phase("traced") or [{"load1": load1()}]
        values = {
            "trace.wall_s": traced_wall,
            "trace.unattributed_s": traced_wall - blocking,
            "trace.overhead_ratio": statistics.mean(traced_lat) / statistics.mean(lat),
            "host.load1_max": max(s["load1"] for s in traced),
            "host.steal_share": steal_share(traced),
            "cpu.driver_s": cpu["driver"],
            "cpu.jvm_s": cpu["jvm"],
            "cpu.python_workers_s": cpu["python_workers"],
            **wl.layer_metrics(layers, spark_layers, tracer, lat),
            **extra,
        }
        detail["spark_layers"] = spark_layers
        wanted = spec["per_layer"]
    else:
        values = e2e
        wanted = spec["end_to_end"]
    names = [m["name"] for m in wanted]
    unknown = set(values) - set(names)
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    # a layer the workload never calls did no work: it reads 0
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    summary = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}

    detail.update({
        "end_to_end": e2e, "summary": summary, "error_rate": failed / attempted,
        "problems": problems[:50], "samples": sampler.samples,
        "latency_ms": {"p50": quantile(lat, 50) * 1e3, "p99": quantile(lat, 99) * 1e3,
                       "n": len(lat)},
    })
    side = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(side, "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    for p in problems[:10]:
        print("MISMATCH", p, file=sys.stderr)
    print(json.dumps(summary), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
