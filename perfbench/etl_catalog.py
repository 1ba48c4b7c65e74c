"""Workload ``etl_catalog``: the batch side of the engine.

One client in a closed loop runs cycles until the run's time is up
(the first cycle always completes).  A cycle is ``ETL_PER_CATALOG``
requests of the first kind and one of the second:

- an ETL pass over the seeded corpus, as in the reference notebooks
  01-03: read parquet, ``chunk_map_in_pandas`` (longest-first layout on
  ``n_chars``), ``with_embeddings``, ``overwrite_table``, then
  ``exact_dedup`` and ``minhash_dedup_pairs``;
- a pass over the catalog mix, each registered query timed from plan
  to ``count()``, in an order the seed sets.

End-to-end metrics (untraced run):
- ``write_p50_ms``: median time from reading the corpus to the
  committed chunk table;
- ``throughput_per_s``: documents per second through whole ETL passes
  (chunk table plus both dedup results);
- ``read_p50_ms``: one catalog pass, as the sum of per-query medians;
- ``recall``: share of the planted near-duplicate pairs that
  ``minhash_dedup_pairs`` returns.
"""

from __future__ import annotations

import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from perfbench import gen
from perfbench.trace import median, wrap_public

N_DOCS = 1000
TOTAL_TOKENS = 130_000
TABLE = "perfbench_chunks"
PREPARE_REPEATS = 3
# ETL passes vary more from pass to pass than a catalog pass, which
# sums seven queries, so a cycle holds more of them; with three, the
# median is not the first timed pass, which runs 10-20% slower than
# the next even after a second warm-up pass
ETL_PER_CATALOG = 3

# The catalog mix: aggregation, multi-way join, semi-join, window,
# as-of join, and BM25 top-k with and without the optimizer's index
# rewrite.  Queries whose first call builds an index or layout for many
# seconds (ann_rewrite_topk, op70d_skipping_rewrite) are left out to
# keep a run within its time budget (see README.md).
CATALOG = (
    "tpch_q1",
    "tpch_q5",
    "tpch_q18",
    "op34_window_rank",
    "op49_asof_join",
    "text_bm25_topk",
    "text_bm25_rewrite",
)
CATALOG_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _shingles(text: str, n: int = 3) -> set[str]:
    t = text.split()
    if len(t) < n:
        return {" ".join(t)}
    return {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}


def _jaccard(a: str, b: str) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


class Etl:
    def __init__(self, ctx, corpus: gen.Corpus, path: str):
        from pdf_etl_ocr_inference_spark.operators.documents import (
            token_window_chunks,
        )

        self.ctx = ctx
        self.corpus = corpus
        self.path = path
        self.texts = dict(zip(corpus.frame["doc_id"].tolist(), corpus.frame["text"]))
        self.n_chunks = sum(
            sum(1 for c in token_window_chunks(t) if len(c) > 50)
            for t in self.texts.values()
        )
        groups: dict[str, list[int]] = {}
        for i, t in self.texts.items():
            groups.setdefault(t, []).append(i)
        self.exact_pairs = {
            (a, b) for m in groups.values() for a in m for b in m if a < b
        }

    def run_pass(self, traced: bool) -> dict:
        """One ETL pass.  Untraced, chunk/embed/write run as Spark plans
        them (one fused job); traced, each layer's output is
        materialized at its boundary so its span holds its own work."""
        from pdf_etl_ocr_inference_spark.operators import dedup
        from pdf_etl_ocr_inference_spark.operators.documents import (
            chunk_map_in_pandas,
        )
        from pdf_etl_ocr_inference_spark.operators.inference import (
            with_embeddings,
        )
        from pdf_etl_ocr_inference_spark.sources.readers import read_parquet
        from pdf_etl_ocr_inference_spark.sources.writers import overwrite_table

        spark, tr = self.ctx.spark, self.ctx.tracer

        def force(df):
            return df.localCheckpoint(eager=True) if traced else df

        r: dict = {}
        t0 = time.perf_counter()
        with tr.span("sources.read_parquet", "sources") as s_read:
            docs = force(read_parquet(spark, self.path))
        with tr.span("documents.chunk_map_in_pandas", "documents") as s_chunk:
            chunks = force(chunk_map_in_pandas(docs, size_col="n_chars"))
        with tr.span("inference.with_embeddings", "inference") as s_embed:
            emb = force(with_embeddings(chunks, "chunk"))
        with tr.span("sources.overwrite_table", "sources") as s_write:
            overwrite_table(emb, TABLE)
        t1 = time.perf_counter()
        with tr.span("dedup.exact_dedup", "dedup"):
            kept = dedup.exact_dedup(docs, "text", "doc_id").select("doc_id").collect()
        t2 = time.perf_counter()
        cands: list = []
        reps: list = []
        undo = (
            [wrap_public(dedup, "minhash_lsh_candidates", tr, "dedup", cands),
             wrap_public(dedup, "minhash_rep_pairs", tr, "dedup", reps)]
            if traced
            else []
        )
        try:
            with tr.span("dedup.minhash_dedup_pairs", "dedup"):
                pairs = (
                    dedup.minhash_dedup_pairs(docs, "text", "doc_id")
                    .select("id_a", "id_b")
                    .collect()
                )
        finally:
            for u in undo:
                u()
        t3 = time.perf_counter()
        r.update(
            write_s=t1 - t0,
            exact_s=t2 - t1,
            minhash_s=t3 - t2,
            pass_s=t3 - t0,
            kept={int(x["doc_id"]) for x in kept},
            pairs={(int(p["id_a"]), int(p["id_b"])) for p in pairs},
        )
        if traced:
            r.update(
                read_s=s_read.seconds,
                chunk_s=s_chunk.seconds,
                embed_s=s_embed.seconds,
                table_s=s_write.seconds,
            )
            with tr.span("trace.counts", "trace"):
                r["chunks_out"] = chunks.count()
                r["candidates"] = cands[-1].count()
                r["verified"] = reps[-1][1].count()
        return r

    def check(self, r: dict) -> list[str]:
        """Correctness of one pass, outside its timed section."""
        from pdf_etl_ocr_inference_spark.operators.inference import (
            hash_embed_texts,
        )

        problems = []
        table = self.ctx.spark.table(TABLE)
        n = table.count()
        if n != self.n_chunks:
            problems.append(f"{n} chunks, pure-Python recount {self.n_chunks}")
        sample = table.select("chunk", "inference").limit(16).collect()
        want = hash_embed_texts([s["chunk"] for s in sample])
        if any(
            not np.allclose(s["inference"], w, atol=1e-6) for s, w in zip(sample, want)
        ):
            problems.append("sampled embeddings differ from hash_embed_texts")
        if r["kept"] != self.corpus.exact_survivors:
            problems.append(
                f"{len(r['kept'])} exact-dedup survivors, "
                f"ground truth {len(self.corpus.exact_survivors)}"
            )
        if self.exact_pairs - r["pairs"]:
            problems.append("an exact-duplicate pair is missing from the MinHash pairs")
        rng = random.Random(len(r["pairs"]))
        for a, b in rng.sample(sorted(r["pairs"]), min(64, len(r["pairs"]))):
            if _jaccard(self.texts[a], self.texts[b]) < 0.5:
                problems.append(f"pair ({a}, {b}) is below Jaccard 0.5")
                break
        return problems

    def recall(self, r: dict) -> float:
        planted = self.corpus.near_pairs
        return len(planted & r["pairs"]) / len(planted)


class Catalog:
    def __init__(self, ctx, sf_dir: str):
        from pdf_etl_ocr_inference_spark.plans.registry import all_specs

        self.ctx = ctx
        self.sf = sf_dir
        specs = all_specs()
        self.fns = {q: specs[q].fn for q in CATALOG}
        self.rows: dict[str, int] = {}

    def warm_and_check(self) -> None:
        """The cold pass: every query once, its whole result compared
        with its registered DuckDB oracle as ``tools/run_gate.py``
        compares them.  Row counts are kept to check the timed runs."""
        import duckdb

        from pdf_etl_ocr_inference_spark.plans.registry import oracle_map
        from tools.run_gate import _compare

        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = self.sf
        oracles = oracle_map()
        con = duckdb.connect()
        try:
            for t in CATALOG_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf}/{t}.parquet'")

            def compare(q, spdf):
                self.rows[q] = len(spdf)
                reason = _compare(spdf, con.execute(oracles[q]).df())
                return [] if reason is None else [reason]

            for q in CATALOG:
                self.ctx.checks.run(
                    f"catalog.{q}.warmup",
                    lambda: self.fns[q](self.ctx.spark, self.sf).toPandas(),
                    check=lambda spdf: compare(q, spdf),
                )
        finally:
            con.close()

    def run_query(self, q: str) -> dict:
        tr = self.ctx.tracer
        with self.ctx.jobs.group() as g:
            t0 = time.perf_counter()
            with tr.span(f"plans.{q}", "plans"):
                with tr.span(f"plans.{q}.plan", "plans"):
                    df = self.fns[q](self.ctx.spark, self.sf)
                t1 = time.perf_counter()
                with tr.span(f"plans.{q}.exec", "plans"):
                    n = df.count()
            t2 = time.perf_counter()
        return {"q": q, "rows": n, "plan_s": t1 - t0, "exec_s": t2 - t1,
                "total_s": t2 - t0, "jobs": g["jobs"], "tasks": g["tasks"]}

    def check(self, r: dict) -> list[str]:
        want = self.rows.get(r["q"])
        return [] if r["rows"] == want else [f"{r['rows']} rows, oracle {want}"]


def _cycles(ctx, etl, catalog, rng, n_etl, n_cycles=None):
    """Cycles of ``n_etl`` ETL passes and one catalog pass.  With
    ``n_cycles`` None, run until the time is up: the first cycle always
    completes and later ones stop at the first request that would start
    late."""
    passes: list[dict] = []
    queries: dict[str, list[dict]] = {q: [] for q in CATALOG}
    t_end = time.perf_counter() + ctx.seconds

    def more(cycle: int) -> bool:
        if n_cycles is not None:
            return cycle < n_cycles
        return cycle == 0 or time.perf_counter() < t_end

    cycle = 0
    while more(cycle):
        for i in range(n_etl):
            if cycle and not more(cycle):
                break
            ctx.tracer.op = f"etl-{cycle}-{i}"
            r = ctx.checks.run(
                "etl.pass", etl.run_pass, ctx.tracer.enabled, check=etl.check
            )
            if r is not None:
                passes.append(r)
        order = list(CATALOG)
        rng.shuffle(order)
        for q in order:
            if cycle and not more(cycle):
                break
            ctx.tracer.op = f"catalog-{cycle}-{q}"
            r = ctx.checks.run(f"catalog.{q}", catalog.run_query, q, check=catalog.check)
            if r is not None:
                queries[q].append(r)
        cycle += 1
    return passes, queries


def _catalog_s(queries) -> float:
    return sum(median([x["total_s"] for x in rs]) for rs in queries.values() if rs)


def run(ctx) -> dict:
    corpus_path = os.path.join(ctx.work, "corpus.parquet")
    sf_dir = os.path.join(ctx.work, "catalog")

    # set-up: input generation repeated (median), warm-up once
    prep = []
    for _ in range(PREPARE_REPEATS):
        t = time.perf_counter()
        corpus = gen.make_corpus(ctx.seed, N_DOCS, TOTAL_TOKENS)
        corpus.frame.to_parquet(corpus_path, index=False)
        gen.write_catalog_tables(sf_dir)
        prep.append(time.perf_counter() - t)
    ctx.log(f"inputs generated {PREPARE_REPEATS}x: {[round(x, 2) for x in prep]} s")

    # warm-up: one untimed ETL pass while the cold catalog pass runs in a
    # second thread (their first calls are mostly JVM and Python-worker
    # start-up, which overlap well)
    t = time.perf_counter()
    etl = Etl(ctx, corpus, corpus_path)
    catalog = Catalog(ctx, sf_dir)
    with ThreadPoolExecutor(max_workers=1) as pool:
        cold_catalog = pool.submit(catalog.warm_and_check)
        ctx.checks.run("etl.warmup", etl.run_pass, False, check=etl.check)
        cold_catalog.result()
    setup_s = median(prep) + time.perf_counter() - t
    ctx.log(f"warm-up done in {time.perf_counter() - t:.2f} s")

    rng = random.Random(ctx.seed)
    passes, queries = _cycles(ctx, etl, catalog, rng, ETL_PER_CATALOG)
    if not passes:
        raise RuntimeError("no ETL pass completed")
    ctx.log(
        f"window: ETL passes {[round(p['pass_s'], 2) for p in passes]} s, "
        f"of which write {[round(p['write_s'], 2) for p in passes]} s"
    )
    ctx.log(
        "window: catalog "
        + ", ".join(f"{q} {[round(x['total_s'], 2) for x in rs]}" for q, rs in queries.items())
    )
    e2e = {
        "setup_s": setup_s,
        "write_p50_ms": 1e3 * median([p["write_s"] for p in passes]),
        "throughput_per_s": len(passes) * N_DOCS / sum(p["pass_s"] for p in passes),
        "read_p50_ms": 1e3 * _catalog_s(queries),
        "recall": float(np.mean([etl.recall(p) for p in passes])),
    }
    if ctx.trace:
        _traced(ctx, etl, catalog, rng, e2e, passes)
    return e2e


def _traced(ctx, etl, catalog, rng, e2e, passes0) -> None:
    """Per-layer metrics from one traced cycle; tracing overhead is its
    time minus the untraced medians for the same requests."""
    from pdf_etl_ocr_inference_spark import optimizer

    ctx.tracer.enabled = True
    undo = [
        wrap_public(optimizer, "optimize", ctx.tracer, "optimizer"),
        wrap_public(optimizer, "rewrite_bm25_topk", ctx.tracer, "optimizer"),
    ]
    try:
        t = time.perf_counter()
        passes, queries = _cycles(ctx, etl, catalog, rng, 1, n_cycles=1)
        traced_s = time.perf_counter() - t
    finally:
        for u in undo:
            u()
    if not passes or not all(queries.values()):
        raise RuntimeError("a traced request failed; see the errors above")
    L = ctx.layer
    L["trace.overhead_s"] = (
        traced_s - median([p["pass_s"] for p in passes0]) - e2e["read_p50_ms"] / 1e3
    )
    L["sources.read_s"] = median([p["read_s"] for p in passes])
    L["sources.write_s"] = median([p["table_s"] for p in passes])
    L["sources.bytes_written_per_input_byte"] = _dir_bytes(
        os.path.join(ctx.work, "warehouse", TABLE)
    ) / os.path.getsize(etl.path)
    L["documents.chunk_s"] = median([p["chunk_s"] for p in passes])
    L["documents.chunks_out"] = median([p["chunks_out"] for p in passes])
    L["inference.embed_s"] = median([p["embed_s"] for p in passes])
    L["inference.texts_per_s"] = L["documents.chunks_out"] / L["inference.embed_s"]
    L["dedup.exact_s"] = median([p["exact_s"] for p in passes])
    L["dedup.exact_kept_ratio"] = median([len(p["kept"]) for p in passes]) / N_DOCS
    L["dedup.minhash_s"] = median([p["minhash_s"] for p in passes])
    L["dedup.minhash_candidates"] = median([p["candidates"] for p in passes])
    L["dedup.minhash_verified_ratio"] = median(
        [p["verified"] / max(p["candidates"], 1) for p in passes]
    )
    for q, rs in queries.items():
        for key in ("plan_s", "exec_s", "jobs", "tasks"):
            L[f"plans.{q}.{key}"] = median([x[key] for x in rs])
    tot = {q: median([x["total_s"] for x in rs]) for q, rs in queries.items()}
    L["optimizer.bm25_rewrite_x"] = tot["text_bm25_rewrite"] / tot["text_bm25_topk"]
