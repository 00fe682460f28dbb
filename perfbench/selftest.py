"""The benchmark's own self-tests.

    python3 perfbench/selftest.py          # from the root of a checkout
    python3 -m pytest perfbench/selftest.py

They check the benchmark, not the engine: the input generator is
deterministic, the DuckDB oracle agrees with the repo's pure-Python
oracle, the event-log reader attributes a known tiny job correctly,
the printed metric names are the ones BENCHMARK.json declares, no
process of a stopped session outlives it, and the benchmark refuses to
run without the engine.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import oracle  # noqa: E402

TMP_DIR = os.path.join(HERE, ".work-selftest")


def test_generator_is_deterministic():
    a = inputs.corpus(7, 300), inputs.queries(7, 50)
    b = inputs.corpus(7, 300), inputs.queries(7, 50)
    c = inputs.corpus(8, 300), inputs.queries(8, 50)
    assert inputs.digest(*a) == inputs.digest(*b)
    assert inputs.digest(*a) != inputs.digest(*c)
    ids = a[0]["doc_id"].to_numpy()
    assert (inputs.delete_set(7, ids, 0.01, "d")
            == inputs.delete_set(7, ids, 0.01, "d"))
    ingest = inputs.corpus(7, 20, first_id=300, stream="ingest0")
    assert ingest["doc_id"].min() == 300
    assert inputs.digest(ingest) != inputs.digest(a[0].iloc[:20])


def _reference_oracle():
    spec = importlib.util.spec_from_file_location(
        "reference_oracle", os.path.join(ROOT, "tests", "oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_duckdb_oracle_matches_reference_oracle():
    ref = _reference_oracle()
    docs = inputs.corpus(3, 80)
    qs = inputs.queries(3, 25)
    want = ref.bm25_topk(list(zip(docs["doc_id"], docs["text"])),
                         list(zip(qs["query_id"], qs["query"])), k=100)
    got = oracle.bm25_scores(docs, qs)
    per_q: dict = {}
    for qid, doc, score, rank in want:
        per_q.setdefault(qid, []).append((doc, score, rank))
    assert any(per_q.values())
    for qid in qs["query_id"]:
        assert oracle.check_topk(per_q.get(qid, []), got[qid], 100) is None
    # the exclusion set hides docs without changing anyone's score
    # (DuckDB may sum in another order, hence the tolerance)
    gone = {got[qid][0][0] for qid in qs["query_id"] if got[qid]}
    hidden = oracle.bm25_scores(docs, qs, exclude=gone)
    for qid in qs["query_id"]:
        full = dict(got[qid])
        assert {d for d, _ in hidden[qid]} == set(full) - gone
        assert all(abs(full[d] - s) <= oracle.REL_TOL * max(1.0, s)
                   for d, s in hidden[qid])


def test_check_topk_reports_mismatches():
    want = [(1, 3.0), (2, 2.0), (3, 1.0)]
    assert oracle.check_topk([(1, 3.0, 1), (2, 2.0, 2)], want, 2) is None
    assert oracle.check_topk([(1, 3.0, 1), (3, 1.0, 2)], want, 2)
    assert oracle.check_topk([(1, 3.0, 1), (2, 2.5, 2)], want, 2)
    assert oracle.check_topk([(1, 3.0, 1)], want, 2)
    # near-equal scores may swap or straddle the k-th position
    tie = [(5, 2.0), (4, 2.0 * (1 + 1e-12)), (6, 1.0)]
    assert oracle.check_topk([(5, 2.0, 1)], tie, 1) is None


def test_event_log_attribution_on_known_jobs():
    from pyspark.sql import SparkSession

    from procs import adopt_orphans, descendants, stop_spark
    from spans import Tracer, attribute, read_event_log

    events = os.path.join(TMP_DIR, "events")
    shutil.rmtree(TMP_DIR, ignore_errors=True)
    os.makedirs(events)
    adopt_orphans()
    spark = (SparkSession.builder.master("local[2]").appName("selftest")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.local.dir", os.path.join(TMP_DIR, "local"))
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + events)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .getOrCreate())
    sc = spark.sparkContext
    tracer = Tracer()
    tracer.attach(sc)
    try:
        with tracer.span("grouped") as a:
            # one job, two stages: 4 map tasks + 3 reduce tasks
            out = (sc.parallelize(range(100), 4).map(lambda x: (x % 3, x))
                   .reduceByKey(lambda x, y: x + y, 3).collect())
            assert sorted(out) == [(0, 1683), (1, 1617), (2, 1650)]
            # an ungrouped job (another thread) inside the span: 2 tasks
            t = threading.Thread(
                target=lambda: sc.parallelize(range(10), 2).count())
            t.start()
            t.join()
        with tracer.span("other") as b:
            sc.parallelize(range(10), 1).count()
        tracer.attach(None)
    finally:
        stop_spark(spark)
    # the session's JVM, its Python workers and the launcher's orphan
    # are gone and reaped, not just stopping
    assert descendants(os.getpid()) == []
    att = attribute(tracer.spans, read_event_log(events))
    shutil.rmtree(TMP_DIR, ignore_errors=True)
    assert att["jobs_total"] == att["jobs_attributed"] == 3
    assert att["jobs_by_overlap"] == 1
    ca, cb = att["per_span"][a["id"]], att["per_span"][b["id"]]
    assert (ca["jobs"], ca["tasks"]) == (2, 9)
    assert (cb["jobs"], cb["tasks"]) == (1, 1)
    assert ca["shuffle_bytes"] > 0 and cb["shuffle_bytes"] == 0
    assert 0 < ca["exec_cpu_s"] and 0 < ca["exec_run_s"]
    assert 0 <= ca["driver_s"] <= a["end"] - a["start"]


def test_metric_names_match_benchmark_json():
    import run
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]
            } == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]
            } == run.per_layer_metrics()
    assert [m["name"] for m in bench["per_layer"]] == list(
        run.per_layer_metrics())


def test_refuses_to_run_without_the_engine():
    bare = os.path.join(TMP_DIR, "bare")
    shutil.rmtree(TMP_DIR, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".work*", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "serve", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=bare, capture_output=True,
                       text=True, timeout=170)
    shutil.rmtree(TMP_DIR, ignore_errors=True)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


if __name__ == "__main__":
    tests = [(k, v) for k, v in sorted(globals().items())
             if k.startswith("test_") and callable(v)]
    failed = 0
    for name, fn in tests:
        try:
            fn()
            print(f"ok   {name}")
        except Exception as e:  # noqa: BLE001 - report every failure
            failed += 1
            print(f"FAIL {name}: {type(e).__name__}: {e}")
    sys.exit(1 if failed else 0)
