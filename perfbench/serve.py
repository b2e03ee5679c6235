"""serve_mixed: online reads beside a streaming ingest on the same stores.

Set-up builds an IVF-PQ index (``similarity.build_ann_index``) over the
base vectors and a 64-bucket ``MaterializedView("agg")`` over lineitem,
then starts one Structured Streaming query whose ``foreachBatch`` folds
each batch of delta files into the view (``apply_delta``) and appends
an ANN code segment (``ivfpq_encode_with_model``).

Load: a closed loop of three reader threads, two sending ANN top-k
requests over 16 held-out queries and one sending point lookups of
Zipf-drawn keys (fixed roles keep the read mix the same in every run),
and an open-loop writer thread that drops one 1k-row delta file every
``DROP_EVERY_S`` seconds into the watched directory.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import threading
import time
from collections import Counter

import numpy as np

import tracing as T
from gen import LINEITEM_COLS

CLIENT_ROLES = ("ann", "ann", "lookup")
K, NPROBE, QUERIES_PER_REQUEST = 10, 4, 16
INDEX = {"n_cells": 16, "m": 8, "n_codes": 32}
BUCKETS = 64
# Alone (no readers, 4-core box) the ingest path kept up with one drop
# per second for 30 s: each trigger takes every pending file, so lag
# stayed at 5-11 s while batches grew to six files. One drop per 2 s is
# at most half that rate and lands five drops in a 10 s window.
DROP_EVERY_S = 2.0
DELTA_ROWS = 1_000
MIN_ANN_RECALL = 0.8


def n_deltas(seconds: float) -> int:
    """Delta files to pre-generate: the warm-up one and one per drop
    period that starts inside the measured window."""
    return 1 + math.ceil(seconds / DROP_EVERY_S)


class Ingest:
    """The streaming query's foreachBatch sink and its bookkeeping."""

    def __init__(self, run, mv, paths: dict):
        self.run, self.mv, self.paths = run, mv, paths
        self.model: tuple | None = None  # (centroids, codebooks), read on first use
        self.dropped: dict[int, float] = {}
        self.committed: list[int] = []
        self.batch_of: dict[int, int] = {}  # delta id -> streaming batch id
        self.lag_s: dict[int, float] = {}
        self.apply_ms: list[float] = []
        self.encode_ms: list[float] = []
        self.buckets: list[int] = []
        self.files_written: list[int] = []
        self.out_bytes: list[float] = []
        self.cond = threading.Condition()

    def drop(self, d: int) -> None:
        src = os.path.join(self.paths["pending"], f"delta-{d:05d}.parquet")
        with self.cond:
            self.dropped[d] = time.time()
        os.replace(src, os.path.join(self.paths["watch"], f"delta-{d:05d}.parquet"))

    def batch(self, batch_df, batch_id: int) -> None:
        from big_data_project_implementation_spark.operators.similarity import (
            ivfpq_encode_with_model,
        )
        from big_data_project_implementation_spark.sources import writers

        run, p = self.run, self.paths
        spark = run.spark

        def work():
            ids = sorted(r[0] for r in batch_df.select("delta_id").distinct().collect())
            if not ids:
                return
            a0 = time.perf_counter()
            with run.tracer.span("views.apply_delta"):
                touched = self.mv.apply_delta(spark, p["view"], batch_df.select(*LINEITEM_COLS))
            a1 = time.perf_counter()
            vec = batch_df.select("vec_id", "embedding")
            with run.tracer.span("sources.write_vectors"):
                _publish(writers, vec, p, "vectors", batch_id)
            if self.model is None:
                self.model = (spark.read.parquet(f"{p['index']}/centroids"),
                              spark.read.parquet(f"{p['index']}/codebooks"))
            e0 = time.perf_counter()
            with run.tracer.span("similarity.encode_segment"):
                codes = ivfpq_encode_with_model(vec, *self.model, m=INDEX["m"])
                _publish(writers, codes, p, "codes", batch_id)
            done = time.time()
            with self.cond:
                self.apply_ms.append((a1 - a0) * 1e3)
                self.encode_ms.append((time.perf_counter() - e0) * 1e3)
                self.buckets.append(len(touched))
                for d in ids:
                    self.lag_s[d] = done - self.dropped[d]
                    self.batch_of[d] = batch_id
                self.committed.extend(ids)
                self.cond.notify_all()
            if run.tracing:
                run.traced_extra(lambda: self._count_written(a0))

        run.measured("ingest.batch", work)

    def _count_written(self, since: float) -> None:
        start = time.time() - (time.perf_counter() - since)
        n = size = 0
        for top in (self.paths["view"], self.paths["vectors"], self.paths["codes"]):
            for d, _, names in os.walk(top):
                for f in names:
                    full = os.path.join(d, f)
                    if f.endswith(".parquet") and os.path.getmtime(full) >= start:
                        n += 1
                        size += os.path.getsize(full)
        self.files_written.append(n)
        self.out_bytes.append(size)

    def visible(self) -> list[int]:
        with self.cond:
            return list(self.committed)

    def wait_for(self, ids, timeout: float) -> bool:
        end = time.time() + timeout
        with self.cond:
            while not set(ids) <= set(self.committed):
                left = end - time.time()
                if left <= 0:
                    return False
                self.cond.wait(left)
        return True


def _publish(writers, df, paths: dict, kind: str, batch_id: int) -> None:
    """Write one segment to staging, then rename it into place, so a
    reader sees either the whole segment or none of it."""
    stage = os.path.join(paths["staging"], f"{kind}-{batch_id}")
    writers.write(df, stage, mode="overwrite")
    os.replace(stage, os.path.join(paths[kind], f"seg={batch_id}"))


def run(run, setup_clock: float) -> dict:
    from pyspark.sql import functions as F

    from big_data_project_implementation_spark.operators.similarity import (
        build_ann_index, ivfpq_topk_from_index,
    )
    from big_data_project_implementation_spark.operators.views import MaterializedView
    from big_data_project_implementation_spark.plans import count_shuffles

    spark, root = run.spark, run.scratch
    truth = np.load(os.path.join(root, "serve_truth.npz"))
    base_vecs, query_pool = truth["base"], truth["queries"]
    delta_vecs, hot_keys = truth["deltas"], truth["hot_keys"]
    base_counts, delta_counts = truth["base_counts"], truth["delta_counts"]
    paths = {k: os.path.join(root, k) for k in (
        "index", "view", "watch", "vectors", "codes", "staging", "pending", "ckpt")}
    for k in ("watch", "vectors", "codes", "staging"):
        os.makedirs(paths[k], exist_ok=True)
    v = run.values

    base = spark.read.parquet(f"{run.sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    mv = MaterializedView("agg", keys=["l_partkey"], value="l_quantity")
    lineitem = spark.read.parquet(f"{run.sf_dir}/lineitem.parquet")

    def build_index():
        t0 = time.time()
        with run.tracer.span("similarity.build_ann_index"):
            build_ann_index(base, paths["index"], **INDEX)
        v["similarity.build_index_s"] = time.time() - t0

    # the two stores are independent: build them side by side
    index_thread = threading.Thread(target=build_index)
    index_thread.start()
    t1 = time.time()
    with run.tracer.span("views.materialize"):
        mv.materialize(mv.compute(lineitem), paths["view"], buckets=BUCKETS)
    v["views.materialize_s"] = time.time() - t1
    # warm the lookup path while the index is still building
    mv.read_materialized(spark, paths["view"]).filter(
        F.col("l_partkey") == int(hot_keys[0])).collect()
    index_thread.join()

    ingest = Ingest(run, mv, paths)
    first = spark.read.parquet(os.path.join(paths["pending"], "delta-00000.parquet"))
    query = (
        spark.readStream.schema(first.schema).parquet(paths["watch"])
        .writeStream.foreachBatch(ingest.batch)
        .option("checkpointLocation", paths["ckpt"])
        .trigger(processingTime="250 milliseconds")
        .start()
    )

    samples = {"ann": [], "lookup": []}
    recalls: list[float] = []
    lookup_bad: list[str] = []
    retries = [0]
    req_stats = {"rows": [], "files": [], "segments": [],
                 "build_ms": [], "plan_ms": [], "shuffles": []}
    n_base = len(base_vecs)
    all_vecs = np.concatenate([base_vecs, delta_vecs.reshape(-1, base_vecs.shape[1])])

    def ann_request(qb: int, record: bool):
        segs = ingest.visible()
        qv = query_pool[qb]
        qdf = spark.createDataFrame(
            [(qb * QUERIES_PER_REQUEST + j, [float(x) for x in q]) for j, q in enumerate(qv)],
            "vec_id long, embedding array<float>",
        )
        corpus, delta_path = base, None
        if segs:
            corpus = base.unionByName(
                spark.read.parquet(paths["vectors"]).select("vec_id", "embedding"))
            delta_path = paths["codes"]
        b0 = time.perf_counter()
        with run.tracer.span("similarity.topk_from_index"):
            df = ivfpq_topk_from_index(qdf, corpus, paths["index"], k=K,
                                       nprobe=NPROBE, delta_path=delta_path)
        build = (time.perf_counter() - b0) * 1e3
        if run.tracing and record:
            with run.tracer.span("queries.plan"):
                p0 = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                plan = (time.perf_counter() - p0) * 1e3
            req_stats["build_ms"].append(build)
            req_stats["plan_ms"].append(plan)
            req_stats["shuffles"].append(run.traced_extra(lambda: count_shuffles(df)))
        with run.tracer.span("engine.collect"):
            rows = df.collect()
        if run.tracing and record:
            scans = run.traced_extra(lambda: T.scan_metrics(df))
            req_stats["rows"].append(sum(s["rows"] for s in scans
                                         if any("codes" in x for x in s["paths"])))
            req_stats["segments"].append(len(segs))
        if record:
            recalls.append(_recall(rows, qv, qb, segs, all_vecs, n_base, delta_vecs.shape[1]))
        return rows

    def lookup(key: int, record: bool):
        for attempt in range(2):
            try:
                with run.tracer.span("views.read_materialized"):
                    df = mv.read_materialized(spark, paths["view"]).filter(F.col("l_partkey") == key)
                    rows = df.collect()
                break
            except Exception:
                if attempt:
                    raise
                with run.lock:
                    retries[0] += 1
        if record:
            hi = base_counts[key] + delta_counts[:, key].sum()
            if len(rows) != 1 or not base_counts[key] <= rows[0]["n"] <= hi:
                with run.lock:
                    lookup_bad.append(f"key {key}: {[r.asDict() for r in rows]}")
            if run.tracing:
                scans = run.traced_extra(lambda: T.scan_metrics(df))
                req_stats["files"].append(sum(s["files"] for s in scans))
        return rows

    # warm-up: the first delta goes through the ingest path while one
    # ANN request runs
    w0 = time.time()
    ingest.drop(0)
    ann_request(0, record=False)
    run.check("warmup_ingest", ingest.wait_for([0], 90), "first delta committed")
    v["session.warmup_s"] = time.time() - w0
    v["setup_s"] = time.time() - setup_clock

    start = time.time()
    deadline = start + run.seconds
    zipf = 1.0 / np.arange(1, len(hot_keys) + 1) ** 1.1
    zipf /= zipf.sum()

    client_rate = [0.0] * len(CLIENT_ROLES)

    def reader(i: int):
        rng = np.random.default_rng([run.seed, 2, i])
        n = 0
        while time.time() < deadline:
            if CLIENT_ROLES[i] == "ann":
                qb = int(rng.integers(1, len(query_pool)))
                _, dt = run.measured("serve.ann", lambda: ann_request(qb, True))
                samples["ann"].append(dt * 1e3)
            else:
                key = int(hot_keys[rng.choice(len(hot_keys), p=zipf)])
                _, dt = run.measured("serve.lookup", lambda: lookup(key, True))
                samples["lookup"].append(dt * 1e3)
            n += 1
        # a closed-loop client's rate is its completed requests over the
        # time it was busy with them, so the last request's overrun past
        # the deadline does not quantize the figure
        client_rate[i] = n / (time.time() - start)

    lateness: list[float] = []

    def writer():
        # one drop every DROP_EVERY_S from the window's start; drops stop
        # at the deadline and the run waits for the ingest to drain after
        for d in range(1, len(delta_counts)):
            due = start + (d - 1) * DROP_EVERY_S
            if due >= deadline:
                break
            time.sleep(max(0.0, due - time.time()))
            lateness.append((time.time() - due) * 1e3)
            ingest.drop(d)

    threads = [threading.Thread(target=reader, args=(i,)) for i in range(len(CLIENT_ROLES))]
    wt = threading.Thread(target=writer)
    for t in threads + [wt]:
        t.start()
    for t in threads:
        t.join()
    end = time.time()
    wt.join()
    dropped = sorted(ingest.dropped)
    run.check("ingest_drained", ingest.wait_for(dropped, 90),
              f"{len(ingest.visible())}/{len(dropped)} deltas committed")
    query.stop()
    progress = [_progress_dict(p) for p in query.recentProgress]

    # the store must equal a recomputation of the base plus every applied delta
    got = mv.read_materialized(spark, paths["view"]).toPandas()
    ok, msg = _check_view(run.sf_dir, paths["watch"], ingest.visible(), got)
    run.check("view_matches_recompute", ok, msg)
    recall = statistics.mean(recalls) if recalls else 0.0
    run.check("ann_recall", recall >= MIN_ANN_RECALL, f"{recall:.4f} over {len(recalls)} requests")
    run.check("lookups", not lookup_bad, "; ".join(lookup_bad[:3]))

    wall = end - start
    ann, look = samples["ann"], samples["lookup"]
    measured_lags = [ingest.lag_s[d] * 1e3 for d in dropped if d > 0 and d in ingest.lag_s]
    v["latency_p50_ms"] = statistics.median(ann)
    v["throughput_per_s"] = sum(client_rate)
    v["recall"] = recall
    v["serve.ann_p50_ms"] = v["latency_p50_ms"]
    v["serve.ann_recall_at_10"] = recall
    v["serve.read_ops_per_s"] = v["throughput_per_s"]
    if look:
        v["serve.lookup_p50_ms"] = statistics.median(look)
    if measured_lags:
        v["serve.ingest_lag_p50_ms"] = statistics.median(measured_lags)
    v["views.apply_delta_ms"] = statistics.median(ingest.apply_ms)
    v["similarity.encode_segment_ms"] = statistics.median(ingest.encode_ms)
    v["views.lookup_retries"] = retries[0]
    v["generator.lateness_ms"] = statistics.mean(lateness) if lateness else 0.0
    # triggers that picked up measured deltas (not the warm-up one)
    busy = [p for p in progress if p.get("numInputRows", 0) > 0
            and p.get("batchId") != ingest.batch_of.get(0)]
    for key, name in (("triggerExecution", "trigger_ms"), ("addBatch", "add_batch_ms"),
                      ("queryPlanning", "query_planning_ms"), ("walCommit", "wal_commit_ms"),
                      ("latestOffset", "latest_offset_ms")):
        xs = [p["durationMs"].get(key, 0) for p in busy]
        v[f"streaming.{name}"] = statistics.median(xs) if xs else 0.0
    if run.tracing:
        v.update(run.engine_values(wall))
        v["sources.input_bytes"] = run.engine.get("input_bytes", 0.0) / run.engine_ops
        v["sources.input_rows"] = run.engine.get("input_rows", 0.0) / run.engine_ops
        v["sources.output_bytes"] = statistics.mean(ingest.out_bytes) if ingest.out_bytes else 0.0
        v["sources.files_written"] = statistics.mean(ingest.files_written) if ingest.files_written else 0.0
        mean = lambda xs: statistics.mean(xs) if xs else 0.0  # noqa: E731
        v["queries.build_ms"] = mean(req_stats["build_ms"])
        v["queries.plan_ms"] = mean(req_stats["plan_ms"])
        v["plans.shuffles"] = mean(req_stats["shuffles"])
        ann_ops = run.by_name.get("serve.ann", {})
        v["similarity.jobs_per_request"] = ann_ops.get("jobs", 0.0) / max(ann_ops.get("ops", 0), 1)
        v["similarity.codes_rows_scanned"] = mean(req_stats["rows"])
        v["similarity.delta_segments"] = mean(req_stats["segments"])
        v["views.buckets_rewritten"] = mean(ingest.buckets)
        v["views.lookup_files_scanned"] = mean(req_stats["files"])
        v["streaming.processed_rows_per_s"] = mean(
            [p.get("processedRowsPerSecond", 0.0) for p in busy])
        # a trigger takes every file pending at its start, so the files
        # in each measured batch are the backlog the ingest found there
        # (progress numInputRows counts a batch once per action on it)
        per_batch = Counter(b for b in ingest.batch_of.values() if b != ingest.batch_of[0])
        v["streaming.backlog_files"] = mean(list(per_batch.values()))
    shutil.rmtree(paths["staging"], ignore_errors=True)
    return {
        "after_window_s": time.time() - end,
        "samples_ms": {"serve.ann": ann, "serve.lookup": look, "serve.ingest_lag": measured_lags},
        "deltas_dropped": len(dropped) - 1,
        "measured_s": wall,
    }


def _progress_dict(p) -> dict:
    import json

    return json.loads(p.json) if hasattr(p, "json") else dict(p)


def _recall(rows, qv, qb, segs, all_vecs, n_base, delta_rows) -> float:
    """Mean over the request's queries of the share of returned ids whose
    exact cosine reaches the 10th best over base + the segments visible
    when the request started (a segment that became visible mid-request
    may contribute closer vectors, which then also count)."""
    visible = np.zeros(len(all_vecs), bool)
    visible[:n_base] = True
    for d in segs:
        visible[n_base + d * delta_rows: n_base + (d + 1) * delta_rows] = True
    by_q: dict[int, list[int]] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    out = []
    for j, q in enumerate(qv):
        sims = all_vecs @ q
        kth = np.sort(sims[visible])[-K]
        got = set(by_q.get(qb * QUERIES_PER_REQUEST + j, []))
        out.append(sum(1 for i in got if sims[i] >= kth - 1e-6) / K)
    return float(np.mean(out))


def _check_view(sf_dir: str, watch: str, committed: list[int], got) -> tuple[bool, str]:
    import duckdb

    files = [f"{watch}/delta-{d:05d}.parquet" for d in committed]
    con = duckdb.connect()
    src = f"SELECT l_partkey, l_quantity FROM read_parquet('{sf_dir}/lineitem.parquet')"
    if files:
        src += f" UNION ALL SELECT l_partkey, l_quantity FROM read_parquet({files!r})"
    want = con.execute(
        f"SELECT l_partkey, COUNT(*) AS n, CAST(SUM(l_quantity) AS BIGINT) AS sum,"
        f" CAST(MIN(l_quantity) AS BIGINT) AS min, CAST(MAX(l_quantity) AS BIGINT) AS max"
        f" FROM ({src}) GROUP BY l_partkey ORDER BY l_partkey"
    ).fetchdf()
    con.close()
    cols = ["l_partkey", "n", "sum", "min", "max"]
    g = got[cols].sort_values("l_partkey").reset_index(drop=True).astype("int64")
    w = want[cols].reset_index(drop=True).astype("int64")
    if len(g) != len(w):
        return False, f"{len(g)} keys in the store, {len(w)} recomputed"
    bad = int((g != w).any(axis=1).sum())
    return bad == 0, f"{len(w)} keys, {bad} differ"
