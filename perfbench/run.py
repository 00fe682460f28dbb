"""Benchmark of the inverted-index + BM25 engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

One process starts one local[nproc] Spark session, generates the
workload's inputs from --seed, sets up, runs the timed closed loop for
--seconds, checks results against the DuckDB oracle outside the timed
region, and prints each metric by name with its unit and sample count.
The last stdout line is one JSON object: {"correct", "attempted",
"failed", "metrics"}. --trace 0 reports the end-to-end metrics;
--trace 1 turns on the Spark event log and reports the per-layer ones.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# one directory per process, so concurrent runs cannot clobber each other
WORK = os.path.join(HERE, ".work", f"run-{os.getpid()}")

# name -> (unit, better); the order BENCHMARK.json lists them in
END_TO_END = {
    "setup_s": ("s", "lower"),
    "build_docs_per_s": ("docs/s", "higher"),
    "index_bytes_per_doc": ("bytes", "lower"),
    "batch_qps": ("queries/s", "higher"),
    "query_p50_ms": ("ms", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}
# per-layer spans (one per public engine call the benchmark makes, plus
# its own set-up spans); each reports trace.COUNTERS per call
SPANS = (
    "session.start", "bench.inputs", "analysis.with_tokens",
    "postings.build_index", "codec.encode_blocked_batch",
    "codec.decode_blocked_batch", "csearch.warm_serving",
    "csearch.search_index", "csearch.pruning_stats",
    "streaming.start_incremental_index", "postings.merge_partials",
    "postings.delete_docs", "postings.compact_tombstones",
)
# per-layer values measured outside the span counters: name -> unit
LAYER_VALUES = {
    "postings.encode_wall_s": "s",
    "postings.merge_wall_s": "s",
    "codec.encode_postings_per_s": "1/s",
    "codec.decode_postings_per_s": "1/s",
    "csearch.blocks_total": "count",
    "csearch.blocks_kept": "count",
    "csearch.kept_block_frac": "ratio",
    "streaming.ingest_docs_per_s": "docs/s",
    "bench.gate.wall_s": "s",
    "bench.run.self_s": "s",
    "trace.jobs_total": "count",
    "trace.jobs_by_overlap": "count",
    # end-to-end metrics measured with tracing on; minus the untraced
    # run's value of the same seed, they are the tracing overhead
    "traced.setup_s": "s",
    "traced.build_docs_per_s": "docs/s",
    "traced.batch_qps": "queries/s",
    "traced.query_p50_ms": "ms",
}
COUNTER_UNITS = {"wall_s": "s", "jobs": "count", "tasks": "count",
                 "exec_run_s": "s", "exec_cpu_s": "s", "driver_s": "s",
                 "shuffle_bytes": "bytes", "spill_bytes": "bytes"}


def per_layer_metrics() -> dict[str, str]:
    """Every per-layer metric name -> unit, in BENCHMARK.json order."""
    from spans import COUNTERS

    out = {f"{s}.{c}": COUNTER_UNITS[c] for s in SPANS for c in COUNTERS}
    out.update(LAYER_VALUES)
    return out


def host_facts(spark) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    return {"nproc": len(os.sched_getaffinity(0)),
            "mem_gb": round(mem_kb / (1 << 20), 1),
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "cpu": platform.processor() or platform.machine()}


def start_session(nproc: int, trace: bool):
    from pyspark.sql import SparkSession

    tmp = os.path.join(WORK, "tmp")
    b = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        # the repo's own bench posture (bench.py), with a smaller heap
        .config("spark.sql.shuffle.partitions", str(max(nproc, 8)))
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
                str(max(nproc * 8, 64)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "500000")
        .config("spark.driver.memory", "1g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # keep every file the run writes inside the checkout
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Dderby.system.home={tmp}")
    )
    if trace:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir",
                     "file://" + os.path.join(WORK, "events"))
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def end_to_end(run, session_s: float, peak_mb: float) -> dict[str, float]:
    s = run.samples
    return {
        "setup_s": (session_s + sum(s["warmup_s"]) + _median(s["setup_rep_s"])
                    + sum(s.get("warm_s", []))),
        "build_docs_per_s": run.values["build_docs_per_s"],
        "index_bytes_per_doc": run.values["index_bytes_per_doc"],
        "batch_qps": _median(s.get("batch_qps", [])),
        "query_p50_ms": _median(s.get("query_ms", [])),
        "peak_rss_mb": peak_mb,
    }


def per_layer(run, tracer, e2e: dict, att: dict) -> dict[str, float]:
    from spans import COUNTERS, self_time

    out: dict[str, float] = {}
    for name in SPANS:
        ids = [sp["id"] for sp in tracer.spans if sp["name"] == name]
        for c in COUNTERS:
            if c == "wall_s":
                tot = sum(sp["end"] - sp["start"] for sp in tracer.spans
                          if sp["name"] == name)
            else:
                tot = sum(att["per_span"][i][c] for i in ids)
            out[f"{name}.{c}"] = tot / len(ids) if ids else 0.0
    s = run.samples
    v = run.values
    root = next(sp for sp in tracer.spans if sp["name"] == "bench.run")
    out.update({
        "postings.encode_wall_s": _median(s["encode_wall_s"]),
        "postings.merge_wall_s": _median(s["merge_wall_s"]),
        **{k: v.get(k, 0.0) for k in (
            "codec.encode_postings_per_s", "codec.decode_postings_per_s",
            "csearch.blocks_total", "csearch.blocks_kept",
            "csearch.kept_block_frac")},
        "streaming.ingest_docs_per_s": _median(s.get("ingest_docs_per_s", [0.0])),
        "bench.gate.wall_s": sum(tracer.walls("bench.gate")),
        "bench.run.self_s": self_time(tracer.spans, root["id"]),
        "trace.jobs_total": att["jobs_total"],
        "trace.jobs_by_overlap": att["jobs_by_overlap"],
        "traced.setup_s": e2e["setup_s"],
        "traced.build_docs_per_s": e2e["build_docs_per_s"],
        "traced.batch_qps": e2e["batch_qps"],
        "traced.query_p50_ms": e2e["query_p50_ms"],
    })
    return out


def report_lines(name: str, run, e2e: dict) -> list[str]:
    """Human-readable metric lines: name, value, unit, sample count."""
    s = run.samples
    n = {"setup_s": len(s["setup_rep_s"]), "build_docs_per_s": len(s["build_s"]),
         "index_bytes_per_doc": 1, "batch_qps": len(s.get("batch_qps", [])),
         "query_p50_ms": len(s.get("query_ms", [])), "peak_rss_mb": 1}
    lines = [f"metric {k} {v:.6g} {END_TO_END[k][0]} n={n[k]} "
             f"({END_TO_END[k][1]} is better)" for k, v in e2e.items()]
    if name == "maintain":
        lines.append(f"metric ingest_docs_per_s "
                     f"{_median(s['ingest_docs_per_s']):.6g} docs/s "
                     f"n={len(s['ingest_docs_per_s'])} (higher is better)")
        lines.append(f"metric compact_s {_median(s['compact_s']):.6g} s "
                     f"n={len(s['compact_s'])} (lower is better)")
    fails = len(run.failures)
    lines.append(f"metric failed_ops_frac {fails / max(run.attempted, 1):.6g} "
                 f"ratio n={run.attempted} ({fails} failed)")
    lines += [f"samples {k} " + " ".join(f"{x:.4g}" for x in v)
              for k, v in sorted(s.items())]
    lines += [f"FAILED {f}" for f in run.failures]
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "engine", "__init__.py")):
        print(f"perfbench: no engine package under {ROOT}; run from the "
              "root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    from procs import adopt_orphans, stop_spark
    from rss import PeakRss
    from spans import Tracer, attribute, read_event_log
    from workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    os.makedirs(os.path.join(WORK, "tmp"))
    os.makedirs(os.path.join(WORK, "events"))
    # Python workers import engine/ from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # Spark prefers this variable to spark.local.dir, so a value
    # inherited from the caller would send shuffle files elsewhere
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the launcher JVM too: no hsperfdata or temp files outside WORK
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    nproc = len(os.sched_getaffinity(0))
    # a SIGTERM unwinds through the cleanup below instead of leaving
    # the JVM and its workers running
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    adopt_orphans()

    tracer = Tracer()
    spark = None
    try:
        with PeakRss() as rss:
            with tracer.span("bench.run"):
                with tracer.span("session.start") as s0:
                    spark = start_session(nproc, bool(args.trace))
                session_s = s0["end"] - s0["start"]
                if args.trace:
                    tracer.attach(spark.sparkContext)
                facts = host_facts(spark)
                run = Run(spark, tracer, WORK, args.seed, args.seconds,
                          bool(args.trace))
                WORKLOADS[args.workload](run)
            tracer.attach(None)
            stop_spark(spark)
            spark = None
        e2e = end_to_end(run, session_s, rss.peak_mb)

        print(f"perfbench workload={args.workload} seed={args.seed} "
              f"seconds={args.seconds:g} trace={args.trace} "
              f"inputs_sha256={_digest(run.digests)}")
        print("host " + json.dumps(facts, sort_keys=True))
        for line in report_lines(args.workload, run, e2e):
            print(line)

        correct = not run.failures
        if args.trace:
            att = attribute(tracer.spans, read_event_log(
                os.path.join(WORK, "events")))
            if att["jobs_attributed"] != att["jobs_total"]:
                correct = False
                print(f"TRACE attributed {att['jobs_attributed']} of "
                      f"{att['jobs_total']} event-log jobs")
            metrics = per_layer(run, tracer, e2e, att)
            units = per_layer_metrics()
            tracer.write(os.path.join(os.path.dirname(WORK), (
                f"spans-{args.workload}-seed{args.seed}.json")))
            for sp in SPANS:
                print(f"span {sp} calls={len(tracer.walls(sp))} " + " ".join(
                    f"{k.rsplit('.', 1)[1]}={metrics[k]:.4g}"
                    for k in metrics if k.rsplit(".", 1)[0] == sp))
        else:
            for sp in SPANS + ("bench.gate", "bench.run"):
                w = tracer.walls(sp)
                if w:
                    print(f"span {sp} calls={len(w)} wall_s={sum(w):.4g}")
            metrics = e2e
            units = {k: u for k, (u, _) in END_TO_END.items()}
        print(json.dumps({
            "correct": correct,
            "attempted": run.attempted,
            "failed": len(run.failures),
            "metrics": {k: {"value": metrics[k], "unit": units[k]}
                        for k in units},
        }))
        return 0
    finally:
        # also on an error: no process of this run may outlive it
        stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(WORK))
        except OSError:
            pass  # another run's files, or a traced run's spans


def _digest(parts: list[str]) -> str:
    import hashlib

    return hashlib.sha256("".join(parts).encode()).hexdigest()[:16]


if __name__ == "__main__":
    sys.exit(main())
