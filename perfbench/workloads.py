"""The benchmark's workloads: set-up, the timed closed loop, the traced
extras and the correctness gate.

Both workloads are closed loops with one client: each call waits for
the previous one to finish. Every end-to-end metric is measured on
both workloads (see BENCHMARK.json and README.md for why each exists).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd

import inputs
import oracle

# sizes, measured to fit the run-time budget on a 4-core host
BASE_DOCS = 3_000          # base corpus of both workloads
WARMUP_DOCS = 1_000        # cold warm-up build; its cost is mostly fixed
WARMUP_BATCH = 10          # queries in the warm-up batch
WARMUP_SINGLES = 1         # single queries in the warm-up round
BATCH_QUERIES = 100        # queries per batch (k = 100)
SINGLES_PER_ROUND = 4      # single top-10 queries after each batch
MIN_ROUNDS = 2             # serve rounds per run, however short --seconds
INGEST_DOCS = 200          # docs per stream-ingest batch (maintain)
DELETE_FRAC = 0.01         # share of live docs deleted per cycle (maintain)
GATE_BATCH_SAMPLE = 10     # queries per batch checked against the oracle
GATE_POST_COMPACT = 10     # queries checked after compaction (maintain)
CODEC_REPS = 3             # timed calls per codec kernel (traced run only)

QUERY_SCHEMA = "query_id string, query string"
# serve's batch route: block-max pruning with matmul aggregation, which
# `auto` would pick only at 100k+ docs
PRUNED = {"prune": True, "agg_impl": "matmul"}


class Run:
    """State shared by one workload run: session, tracer, counters."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float,
                 trace: bool):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.attempted = 0
        self.failures: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.values: dict[str, float] = {}
        self.digests: list[str] = []

    def span(self, name: str):
        return self.tracer.span(name)

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def op(self, route: str, fn):
        """Run one engine operation; an exception counts as failed."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - every failure is counted
            self.failures.append(f"{route}: {type(e).__name__}: {e}"[:300])
            return None

    def check(self, route: str, reason: str | None) -> None:
        """Count one correctness check; a reason means it failed."""
        self.attempted += 1
        if reason:
            self.failures.append(f"{route}: {reason}"[:300])

    def queries_df(self, q: pd.DataFrame):
        return self.spark.createDataFrame(
            list(q.itertuples(index=False, name=None)), QUERY_SCHEMA)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def setup_base(run: Run, warm_up_build: bool) -> tuple[str, pd.DataFrame]:
    """Generate the base corpus and build its index, timed.

    With ``warm_up_build`` a WARMUP_DOCS corpus is built first, on the
    cold JVM, so the timed build does not pay one-time JIT compilation
    and Python-worker start-up (a cold build costs about the same at 300
    docs as at 4,000); it is reported as `warmup_s`. Without it the
    timed build is the process's first, as a one-off build from a fresh
    process is."""
    from engine.postings import build_index

    for r in (0, 1) if warm_up_build else (1,):
        t0 = time.perf_counter()
        src = os.path.join(run.work, f"corpus{r}")
        with run.span("bench.inputs"):
            docs_pd = (inputs.corpus(run.seed, BASE_DOCS) if r else
                       inputs.corpus(run.seed, WARMUP_DOCS, stream="warmup"))
            inputs.write_parquet(docs_pd, src, n_files=4)
            docs = run.spark.read.parquet(src)
        out = os.path.join(run.work, f"index{r}")
        t1 = time.perf_counter()
        with run.span("postings.build_index"):
            manifest = run.op("build_index", lambda: build_index(
                run.spark, docs, out))
        t2 = time.perf_counter()
        if manifest is None:
            raise RuntimeError("build_index failed: " + run.failures[-1])
        if r == 0:
            run.add("warmup_s", t2 - t0)
            shutil.rmtree(out, ignore_errors=True)
    run.add("build_s", t2 - t1)
    run.add("setup_rep_s", t2 - t0)
    shards = [s for s in manifest["shards"].values() if "wall_ms" in s]
    run.add("encode_wall_s", max(s["wall_ms"] for s in shards) / 1000.0)
    run.add("merge_wall_s", manifest["merge_wall_ms"] / 1000.0)
    run.digests.append(inputs.digest(docs_pd))
    run.values["index_bytes_per_doc"] = _dir_bytes(out) / BASE_DOCS
    run.values["build_docs_per_s"] = BASE_DOCS / (t2 - t1)
    return out, docs_pd


def _search(run: Run, idx: dict, qdf, k: int, **kw):
    from engine.csearch import search_index

    with run.span("csearch.search_index"):
        t0 = time.perf_counter()
        rows = run.op(f"search_index(k={k}, {kw or 'auto'})",
                      lambda: search_index(run.spark, idx, qdf, k=k, **kw)
                      .collect())
        return rows, time.perf_counter() - t0


def _serve_round(run: Run, idx: dict, batch: pd.DataFrame,
                 singles: pd.DataFrame, log: list, batch_kw: dict,
                 sample: bool = True) -> None:
    """One k=100 batch on the route batch_kw picks, then single top-10
    queries on the default `auto` route. Results go to `log` for the
    gate; timings become samples unless this is a warm-up round."""
    qdf = run.queries_df(batch)
    rows, dt = _search(run, idx, qdf, 100, **batch_kw)
    if rows is not None:
        if sample:
            run.add("batch_qps", len(batch) / dt)
        log.append(("batch", batch, rows))
    for q in singles.itertuples(index=False):
        one = run.queries_df(pd.DataFrame([q]))
        rows, dt = _search(run, idx, one, 10)
        if rows is not None:
            if sample:
                run.add("query_ms", dt * 1000.0)
            log.append(("single", pd.DataFrame([q]), rows))


def _query_stream(run: Run, name: str):
    """Endless seeded (batch, singles) rounds, drawn ahead in chunks."""
    step = BATCH_QUERIES + SINGLES_PER_ROUND
    i = 0
    while True:
        pool = inputs.queries(run.seed, 4 * step, stream=f"{name}{i}")
        run.digests.append(inputs.digest(pool))
        for lo in range(0, len(pool), step):
            yield (pool.iloc[lo:lo + BATCH_QUERIES],
                   pool.iloc[lo + BATCH_QUERIES:lo + step])
        i += 1


def _warm_up(run: Run, idx: dict, batch_kw: dict) -> None:
    """One untimed round on the workload's routes and index, so the
    timed calls do not pay one-time compilation of the read path."""
    t0 = time.perf_counter()
    q = inputs.queries(run.seed, WARMUP_BATCH + WARMUP_SINGLES,
                       stream="warmup")
    _serve_round(run, idx, q.iloc[:WARMUP_BATCH], q.iloc[WARMUP_BATCH:], [],
                 batch_kw, sample=False)
    run.add("warmup_s", time.perf_counter() - t0)


def _gate(run: Run, log: list, docs: pd.DataFrame, exclude: set[int],
          route: str) -> None:
    """Check logged results against the DuckDB oracle: every single
    query and a seeded sample of each batch."""
    rng = np.random.default_rng([run.seed, len(docs), len(exclude)])
    checks = []
    for kind, q, rows in log:
        k = 100 if kind == "batch" else 10
        if kind == "batch":
            q = q.iloc[np.sort(rng.choice(len(q), GATE_BATCH_SAMPLE,
                                          replace=False))]
        checks.append((kind, k, q, oracle.group_results(rows)))
    allq = pd.concat([c[2] for c in checks]).drop_duplicates("query_id")
    want = oracle.bm25_scores(docs, allq, exclude)
    for kind, k, q, got in checks:
        for qid in q["query_id"]:
            why = oracle.check_topk(got.get(qid, []), want[qid], k)
            run.check(f"{route} {kind} vs oracle", why and f"{qid}: {why}")


def _gate_routes(run: Run, idx: dict, batch: pd.DataFrame, rows) -> None:
    """Pruned matmul route vs the unpruned join route, same queries."""
    from engine.csearch import search_index

    ref = search_index(run.spark, idx, run.queries_df(batch), k=100,
                       prune=False, agg_impl="join").collect()
    want = {q: [(d, s) for d, s, _ in sorted(r, key=lambda x: x[2])]
            for q, r in oracle.group_results(ref).items()}
    got = oracle.group_results(rows)
    for qid in batch["query_id"]:
        why = oracle.check_topk(got.get(qid, []), want.get(qid, []), 100)
        run.check("pruned matmul vs unpruned join", why and f"{qid}: {why}")


def _traced_extras(run: Run, idx: dict, docs: pd.DataFrame,
                   src: str, batch: pd.DataFrame) -> None:
    """Per-layer spans that only the traced run pays for: a standalone
    tokenize, the codec kernels on this run's own posting lists, and
    pruning statistics for one batch."""
    from pyspark.sql import functions as F

    from engine.analysis import with_tokens
    from engine.codec import decode_blocked_batch, encode_blocked_batch
    from engine.csearch import pruning_stats

    with run.span("analysis.with_tokens"):
        n_tok = (with_tokens(run.spark.read.parquet(src))
                 .agg(F.sum(F.size("tokens"))).collect()[0][0])
    post = _postings(docs)
    avgdl = n_tok / len(docs)
    walls = []
    for _ in range(CODEC_REPS):
        with run.span("codec.encode_blocked_batch") as s:
            enc = encode_blocked_batch(
                post["doc_id"], post["tf"], post["dl"],
                post.attrs["group_starts"], avgdl)
        walls.append(s["end"] - s["start"])
    run.values["codec.encode_postings_per_s"] = len(post) / statistics.median(walls)
    qterms = set(" ".join(batch["query"]).split())
    groups = [i for i, t in enumerate(post.attrs["terms"]) if t in qterms]
    bufs = _split_groups(enc, groups)
    walls = []
    for _ in range(CODEC_REPS):
        with run.span("codec.decode_blocked_batch") as s:
            d, _, _, _ = decode_blocked_batch(*bufs)
        walls.append(s["end"] - s["start"])
    run.values["codec.decode_postings_per_s"] = len(d) / statistics.median(walls)
    gs = post.attrs["group_starts"]
    ends = np.append(gs[1:], len(post))
    want = np.concatenate([post["doc_id"].to_numpy()[gs[g]:ends[g]]
                           for g in groups]) if groups else d
    run.check("codec encode/decode round trip",
              None if np.array_equal(d, want) else "decoded doc ids differ")
    with run.span("csearch.pruning_stats"):
        ps = pruning_stats(run.spark, idx, run.queries_df(batch), k=100)
    run.values["csearch.blocks_total"] = ps["total_blocks"]
    run.values["csearch.blocks_kept"] = ps["kept_blocks"]
    run.values["csearch.kept_block_frac"] = (
        ps["kept_blocks"] / ps["total_blocks"] if ps["total_blocks"] else 0.0)


def _postings(docs: pd.DataFrame) -> pd.DataFrame:
    """(term, doc_id, tf, dl) posting rows of docs, sorted by term then
    doc, with group starts and terms in .attrs (the oracle's analyzer)."""
    stop = set(oracle.STOP_WORDS)
    toks = docs["text"].str.lower().str.findall(oracle.TOKEN_PATTERN).map(
        lambda ts: [t for t in ts if t not in stop])
    long = pd.DataFrame({"doc_id": np.repeat(docs["doc_id"].to_numpy(),
                                             toks.map(len).to_numpy()),
                         "term": np.concatenate(toks.to_numpy())})
    dl = long.groupby("doc_id").size().rename("dl")
    post = (long.groupby(["term", "doc_id"]).size().rename("tf")
            .reset_index().join(dl, on="doc_id")
            .sort_values(["term", "doc_id"], kind="stable")
            .reset_index(drop=True))
    first = np.flatnonzero(np.r_[True, post["term"].to_numpy()[1:]
                                 != post["term"].to_numpy()[:-1]])
    post.attrs["group_starts"] = first.astype(np.int64)
    post.attrs["terms"] = post["term"].to_numpy()[first]
    return post


def _split_groups(enc: dict, groups: list[int]):
    """decode_blocked_batch arguments for the chosen encoded groups."""
    def pieces(buf, lens):
        ends = np.cumsum(lens)
        return [buf[e - n:e].tobytes() for e, n in zip(ends, lens)]

    docs_b = pieces(enc["doc_buf"], enc["doc_lens"])
    tfs_b = pieces(enc["tf_buf"], enc["tf_lens"])
    dls_b = pieces(enc["dl_buf"], enc["dl_lens"])
    bends = np.cumsum(enc["blocks_per_group"])
    offs = [enc["doc_off"][e - n:e] for e, n in zip(bends, enc["blocks_per_group"])]
    return ([docs_b[g] for g in groups], [tfs_b[g] for g in groups],
            [dls_b[g] for g in groups], [offs[g] for g in groups],
            [int(enc["n_docs"][g]) for g in groups])


def serve(run: Run) -> None:
    """Warm read path over the base index: 100-query batches on the
    pruned matmul route, each followed by single top-10 queries on the
    default `auto` route (unpruned join below 100k docs)."""
    from engine.csearch import warm_serving
    from engine.postings import read_index

    out, docs = setup_base(run, warm_up_build=True)
    t0 = time.perf_counter()
    with run.span("csearch.warm_serving"):
        idx = run.op("warm_serving", lambda: warm_serving(
            run.spark, read_index(run.spark, out)))
    if idx is None:
        raise RuntimeError("warm_serving failed: " + run.failures[-1])
    run.add("warm_s", time.perf_counter() - t0)
    _warm_up(run, idx, PRUNED)

    log: list = []
    stream = _query_stream(run, "serve")
    t_end = time.perf_counter() + run.seconds
    rounds = 0
    while time.perf_counter() < t_end or rounds < MIN_ROUNDS:
        batch, singles = next(stream)
        _serve_round(run, idx, batch, singles, log, PRUNED)
        rounds += 1

    first = next((e for e in log if e[0] == "batch"), None)
    if run.trace and first is not None:
        _traced_extras(run, idx, docs, os.path.join(
            run.work, "corpus1"), first[1])
    with run.span("bench.gate"):
        if first is not None:
            _gate_routes(run, idx, first[1], first[2])
        _gate(run, log, docs, set(), "serve")


def maintain(run: Run) -> None:
    """Writes beside reads on the base index: each cycle stream-ingests
    a seeded batch (available-now), merges it (incremental='auto'),
    deletes a seeded 1% of live docs, then serves one batch and single
    queries on the cold path with the tombstone anti-join. Compaction
    runs once the timed cycles end."""
    from engine.csearch import search_index
    from engine.postings import (compact_tombstones, delete_docs,
                                 merge_partials, read_index)
    from engine.streaming import start_incremental_index

    # its build is the process's first: a cold one-off build, where
    # serve times a warm rebuild
    out, base = setup_base(run, warm_up_build=False)
    idx = read_index(run.spark, out)
    _warm_up(run, idx, {})
    stream_in = os.path.join(run.work, "stream_in")
    os.makedirs(stream_in)
    all_docs = [base[["doc_id", "text"]]]
    live = base["doc_id"].to_numpy()
    dead: set[int] = set()
    stream = _query_stream(run, "maintain")
    cycle_logs: list = []
    first_batch = None
    t_end = time.perf_counter() + run.seconds
    c = 0
    while time.perf_counter() < t_end or c == 0:
        add = inputs.corpus(run.seed, INGEST_DOCS,
                            first_id=BASE_DOCS + c * INGEST_DOCS,
                            stream=f"ingest{c}")
        run.digests.append(inputs.digest(add))
        add = add.assign(source=add["repo"], n_chars=add["text"].str.len())
        add[["doc_id", "text", "lang", "source", "n_chars"]].to_parquet(
            os.path.join(stream_in, f"batch{c:04d}.parquet"), index=False)
        t0 = time.perf_counter()
        with run.span("streaming.start_incremental_index"):
            run.op("start_incremental_index", lambda: start_incremental_index(
                run.spark, stream_in, out, avgdl_hint=idx["avgdl"])
                .awaitTermination())
        with run.span("postings.merge_partials"):
            run.op("merge_partials", lambda: merge_partials(
                run.spark, out, incremental="auto"))
        run.add("ingest_docs_per_s", INGEST_DOCS / (time.perf_counter() - t0))
        all_docs.append(add[["doc_id", "text"]])
        live = np.concatenate([live, add["doc_id"].to_numpy()])

        gone = inputs.delete_set(run.seed, live, DELETE_FRAC, f"delete{c}")
        with run.span("postings.delete_docs"):
            run.op("delete_docs", lambda: delete_docs(run.spark, out, gone))
        dead.update(gone)
        live = live[~np.isin(live, gone)]

        idx = read_index(run.spark, out)
        log: list = []
        batch, singles = next(stream)
        first_batch = batch if first_batch is None else first_batch
        _serve_round(run, idx, batch, singles, log, {})
        for kind, _, rows in log:
            hit = dead.intersection(int(r[1]) for r in rows)
            run.check(f"maintain {kind} tombstone filter",
                      hit and f"returned deleted docs {sorted(hit)[:5]}")
        cycle_logs.append((log, pd.concat(all_docs), set(dead)))
        c += 1
    run.add("cycles", c)

    t0 = time.perf_counter()
    with run.span("postings.compact_tombstones"):
        run.op("compact_tombstones", lambda: compact_tombstones(run.spark, out))
    run.add("compact_s", time.perf_counter() - t0)

    idx = read_index(run.spark, out)
    if run.trace:
        _traced_extras(run, idx, base, os.path.join(
            run.work, "corpus1"), first_batch)
    with run.span("bench.gate"):
        for log, docs, gone in cycle_logs:
            _gate(run, log, docs, gone, "maintain")
        # after compaction the index must equal a fresh build on the
        # surviving docs
        survivors = pd.concat(all_docs)
        survivors = survivors[~survivors["doc_id"].isin(dead)]
        post = inputs.queries(run.seed, GATE_POST_COMPACT, stream="compacted")
        got = oracle.group_results(search_index(
            run.spark, idx, run.queries_df(post), k=10).collect())
        want = oracle.bm25_scores(survivors, post)
        for qid in post["query_id"]:
            why = oracle.check_topk(got.get(qid, []), want[qid], 10)
            run.check("compacted index vs oracle", why and f"{qid}: {why}")


WORKLOADS = {"serve": serve, "maintain": maintain}
