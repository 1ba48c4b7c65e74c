"""Workload ``topk_feed``: the online side of the engine.

Set-up builds an IVF serving index (``build_ivf_serving_index``) over
seeded clustered vectors.  One client in a closed loop then runs
cycles, at least ``MIN_CYCLES`` and more while the run's time lasts.
A cycle is two half-cycles, one per kind of commit, and one request
carrying ``BATCH`` queries.  A half-cycle is:

1. a change-feed commit (``commit_changes``) of about 1% of the rows,
   split between inserts, updates and deletes; even commits stay
   inside one IVF cell, odd ones scatter over all cells (the warm-up
   commit in set-up is a scattered one, the kind whose first refresh
   is slowest, so the window starts one-cell);
2. ``refresh_ivf_serving_index`` for that commit;
3. the first query after the refresh, for one of the inserted vectors;
4. ``SINGLES`` single-query ``serve_topk(kind="ivf", n_probe=2, k=10)``
   requests.

Commits are the slowest and most variable requests, so a cycle holds
few of the others: the refresh median needs every commit the run can
fit.

End-to-end metrics (untraced run):
- ``read_p50_ms``: median single-query latency (the fresh queries of
  step 3 are reported separately, per layer);
- ``write_p50_ms``: median time from the start of a commit until the
  refreshed index can serve it;
- ``throughput_per_s``: queries answered per second in batch requests;
- ``recall``: recall@10 of every served query against an exact top-10
  the benchmark computes in numpy from its own copy of the vectors.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

from perfbench import gen
from perfbench.trace import median

N_VECS = 20_000
DIM = 64
CELLS = 16
NOISE = 0.25  # recall@10 at n_probe=2 is about 0.9, so a loss can show
CHANGE_FRAC = 0.01
K = 10
N_PROBE = 2
SINGLES = 1
MIN_CYCLES = 2
BATCH = 64
PREPARE_REPEATS = 3
SCORE_TOL = 6e-5  # served scores are rounded to 4 decimals

CHANGE_SCHEMA = "vec_id long, embedding array<double>, _change_type string"


def _files(path: str) -> dict[str, tuple[int, int, int]]:
    """Every file under ``path`` with its size, mtime and inode."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.relpath(os.path.join(d, f), path)] = (
                st.st_size, st.st_mtime_ns, st.st_ino,
            )
    return out


class Mirror:
    """The benchmark's copy of the live vectors, for exact answers."""

    def __init__(self, live: dict[int, np.ndarray]):
        self.reset(live)

    def reset(self, live: dict[int, np.ndarray]) -> None:
        self.ids = np.fromiter(live.keys(), dtype=np.int64)
        m = np.stack([live[int(i)] for i in self.ids])
        self.unit = m / np.linalg.norm(m, axis=1, keepdims=True)
        self.pos = {int(i): j for j, i in enumerate(self.ids)}

    def exact_topk(self, q: np.ndarray) -> set[int]:
        s = self.unit @ (q / np.linalg.norm(q))
        top = np.argpartition(-s, K)[:K]
        return {int(i) for i in self.ids[top]}

    def check(self, queries, rows) -> tuple[list[str], list[float]]:
        """Problems with a served answer, and recall@10 per query."""
        problems, recalls = [], []
        got: dict[int, list[tuple[int, float]]] = {}
        for r in rows:
            got.setdefault(int(r["qid"]), []).append((int(r["vec_id"]), r["score"]))
        for qid, q in queries:
            ans = got.get(qid, [])
            qu = q / np.linalg.norm(q)
            for vid, score in ans:
                j = self.pos.get(vid)
                if j is None:
                    problems.append(f"query {qid}: id {vid} is not live")
                elif abs(float(self.unit[j] @ qu) - score) > SCORE_TOL:
                    problems.append(f"query {qid}: id {vid} scored {score}")
            if len(ans) != K:
                problems.append(f"query {qid}: {len(ans)} results")
            recalls.append(len(self.exact_topk(q) & {v for v, _ in ans}) / K)
        return problems[:5], recalls


class Online:
    def __init__(self, ctx, vecs: gen.Vectors, index: str):
        self.ctx = ctx
        self.index = index
        self.feed = os.path.join(ctx.work, "feed")
        self.stream = gen.CommitStream(ctx.seed, vecs, NOISE, CHANGE_FRAC)
        self.mirror = Mirror(self.stream.live)
        self.rng = np.random.default_rng([ctx.seed, 4])
        self.recalls: list[float] = []
        self.samples: dict[str, list] = {
            k: [] for k in ("single", "batch", "write", "fresh", "commit",
                            "refresh_one", "refresh_all", "touched", "rows",
                            "bytes", "jobs", "tasks")
        }

    def _queries(self, n: int) -> list[tuple[int, np.ndarray]]:
        ids = self.rng.choice(self.mirror.ids, size=n)
        return [
            (qid, self.stream.live[int(i)] + self.rng.normal(scale=NOISE / 2, size=DIM))
            for qid, i in enumerate(ids)
        ]

    def serve(self, queries) -> list:
        from pdf_etl_ocr_inference_spark.operators.serving import serve_topk

        with self.ctx.tracer.span("serving.serve_topk", "serving"):
            return serve_topk(
                self.ctx.spark, self.index, [(q, v.tolist()) for q, v in queries],
                k=K, kind="ivf", n_probe=N_PROBE,
            ).collect()

    def query(self, n: int, kind: str) -> None:
        queries = self._queries(n)
        self.ctx.tracer.op = f"{kind}-{len(self.samples[kind])}"

        def op():
            with self.ctx.jobs.group() as g:
                t = time.perf_counter()
                rows = self.serve(queries)
                dt = time.perf_counter() - t
            return rows, dt, g

        def check(out):
            rows, dt, g = out
            problems, recalls = self.mirror.check(queries, rows)
            self.recalls += recalls
            self.samples[kind].append(dt)
            if kind == "single":
                self.samples["jobs"].append(g["jobs"])
                self.samples["tasks"].append(g["tasks"])
            return problems

        self.ctx.checks.run(f"serve.{kind}", op, check=check)

    def commit_and_refresh(self) -> None:
        """Steps 1-3 of a half-cycle, as one operation."""
        from pdf_etl_ocr_inference_spark.operators.serving import (
            refresh_ivf_serving_index,
        )
        from pdf_etl_ocr_inference_spark.streaming.changefeed import (
            commit_changes,
            read_changes,
        )

        spark, tr = self.ctx.spark, self.ctx.tracer
        c = self.stream.next()
        tr.op = f"commit-{c.version}"
        changes = spark.createDataFrame(c.frame(), CHANGE_SCHEMA)
        probe_id, probe_vec = next(iter(c.inserts.items()))

        def op():
            before = _files(self.index) if self.ctx.tracer.enabled else {}
            t0 = time.perf_counter()
            with tr.span("changefeed.commit_changes", "changefeed"):
                commit_changes(changes, self.feed, c.version)
            t1 = time.perf_counter()
            with tr.span("serving.refresh_ivf_serving_index", "serving"):
                touched = refresh_ivf_serving_index(
                    spark, self.index,
                    read_changes(spark, self.feed, since_version=c.version - 1),
                    c.version,
                )
            t2 = time.perf_counter()
            rows = self.serve([(0, probe_vec)])
            t3 = time.perf_counter()
            after = _files(self.index) if self.ctx.tracer.enabled else {}
            rewritten = sum(
                meta[0] for f, meta in after.items() if before.get(f) != meta
            )
            return t0, t1, t2, t3, touched, rows, rewritten

        def check(out):
            t0, t1, t2, t3, touched, rows, rewritten = out
            self.stream.apply(c)
            self.mirror.reset(self.stream.live)
            s = self.samples
            s["commit"].append(t1 - t0)
            s["refresh_one" if c.one_cell else "refresh_all"].append(t2 - t1)
            s["write"].append(t2 - t0)
            s["fresh"].append(t3 - t2)
            s["touched"].append(len(touched) / CELLS)
            s["rows"].append(len(c.frame()))
            s["bytes"].append(rewritten / c.changed_rows)
            problems, _ = self.mirror.check([(0, probe_vec)], rows)
            top = max(rows, key=lambda r: (r["score"], -r["vec_id"]), default=None)
            if top is None or int(top["vec_id"]) != probe_id:
                problems.append(f"inserted id {probe_id} is not its own rank-1 answer")
            if c.one_cell and len(touched) != 1:
                problems.append(f"one-cell commit touched {len(touched)} cells")
            return problems

        self.ctx.checks.run(f"feed.commit{c.version}", op, check=check)

    def cycle(self) -> None:
        for _ in range(2):
            self.commit_and_refresh()
            for _ in range(SINGLES):
                self.query(1, "single")
        self.query(BATCH, "batch")


def run(ctx) -> dict:
    from pdf_etl_ocr_inference_spark.operators.serving import (
        build_ivf_serving_index,
    )

    vec_path = os.path.join(ctx.work, "vectors.parquet")
    index = os.path.join(ctx.work, "ivf")
    prep = []
    for _ in range(PREPARE_REPEATS):
        t = time.perf_counter()
        vecs = gen.make_vectors(ctx.seed, N_VECS, DIM, CELLS, NOISE)
        pd.DataFrame({"vec_id": vecs.ids, "embedding": list(vecs.mat)}).to_parquet(
            vec_path, index=False
        )
        prep.append(time.perf_counter() - t)

    t = time.perf_counter()
    build_ivf_serving_index(
        ctx.spark, ctx.spark.read.parquet(vec_path), index,
        [list(map(float, c)) for c in vecs.centroids],
    )
    ctx.layer["serving.build_s"] = build_s = time.perf_counter() - t
    online = Online(ctx, vecs, index)
    # warm-up: one scattered commit (its first query after the refresh
    # is a single-query request) and one batch request
    online.commit_and_refresh()
    online.query(BATCH, "batch")
    setup_s = median(prep) + time.perf_counter() - t
    ctx.log(
        f"inputs generated {PREPARE_REPEATS}x: {[round(x, 2) for x in prep]} s; "
        f"index built in {build_s:.2f} s; warm in {time.perf_counter() - t:.2f} s"
    )
    for v in online.samples.values():
        v.clear()
    online.recalls.clear()

    t_end = time.perf_counter() + ctx.seconds
    done = 0
    while done < MIN_CYCLES or time.perf_counter() < t_end:
        online.cycle()
        done += 1
    s = online.samples
    ctx.log(
        "window: "
        + ", ".join(
            f"{k} {[round(x, 3) for x in s[k]]}"
            for k in ("commit", "refresh_one", "refresh_all", "fresh", "single", "batch")
        )
    )
    e2e = {
        "setup_s": setup_s,
        "read_p50_ms": 1e3 * median(s["single"]),
        "write_p50_ms": 1e3 * median(s["write"]),
        "throughput_per_s": BATCH * len(s["batch"]) / sum(s["batch"]),
        "recall": float(np.mean(online.recalls)),
    }
    if ctx.trace:
        _traced(ctx, online, e2e)
    return e2e


def _traced(ctx, online, e2e) -> None:
    """Per-layer metrics from one traced cycle; tracing overhead is its
    time minus the untraced medians for the same requests."""
    s = online.samples
    untraced_s = 2 * (
        median(s["write"]) + median(s["fresh"])
        + SINGLES * median(s["single"])
    ) + median(s["batch"])
    for v in s.values():
        v.clear()
    ctx.tracer.enabled = True
    t = time.perf_counter()
    online.cycle()
    L = ctx.layer
    L["trace.overhead_s"] = time.perf_counter() - t - untraced_s
    L["serving.query_s"] = median(s["single"])
    L["serving.jobs_per_query"] = median(s["jobs"])
    L["serving.tasks_per_query"] = median(s["tasks"])
    L["serving.batch_query_s"] = median(s["batch"])
    L["serving.refresh_s"] = median(s["refresh_one"] + s["refresh_all"])
    L["serving.refresh_one_cell_s"] = median(s["refresh_one"])
    L["serving.refresh_scattered_s"] = median(s["refresh_all"])
    L["serving.shards_touched_ratio"] = float(np.mean(s["touched"]))
    L["serving.rewrite_bytes_per_changed_row"] = float(np.mean(s["bytes"]))
    L["serving.cold_query_s"] = median(s["fresh"])
    L["changefeed.commit_s"] = median(s["commit"])
    L["changefeed.rows_per_commit"] = float(np.mean(s["rows"]))
