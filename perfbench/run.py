#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_catalog --seed 1 --seconds 20 --trace 0

Run from the repository root.  Everything the run writes (inputs,
tables, indexes, Spark scratch, spans) goes under ``.bench_work/`` and
``.bench_out/`` in the current directory.  The last line of stdout is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``).  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pdf_etl_ocr_inference_spark"
WORKLOADS = ("etl_catalog", "topk_feed")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@dataclass
class Checks:
    """Operations attempted and failed.  An operation fails when it
    raises or when its check, run after its timed section, reports a
    problem."""

    attempted: int = 0
    failed: int = 0
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def run(self, what: str, fn, *args, check=None):
        """Run one operation, then ``check(result)``, which returns a
        list of problems.  Returns the result, or ``None`` if it
        raised.  Safe to call from several threads."""
        with self._lock:
            self.attempted += 1
        try:
            out = fn(*args)
        except Exception:  # noqa: BLE001 - a failed op must not end the run
            traceback.print_exc()
            self._fail(what, ["raised"])
            return None
        if check is not None:
            try:
                problems = check(out)
            except Exception:  # noqa: BLE001
                traceback.print_exc()
                problems = ["check raised"]
            if problems:
                self._fail(what, problems)
        return out

    def _fail(self, what: str, problems: list[str]) -> None:
        with self._lock:
            self.failed += 1
        print(f"FAILED {what}: {'; '.join(problems)}", file=sys.stderr, flush=True)


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    trace: bool
    work: str
    checks: Checks
    tracer: object
    jobs: object
    layer: dict = field(default_factory=dict)  # per-layer metrics
    t0: float = field(default_factory=time.perf_counter)

    def log(self, msg: str) -> None:
        """Progress on stderr, stamped with seconds since the start."""
        print(f"[{time.perf_counter() - self.t0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def _isolate(work: str) -> None:
    """Point every temp/scratch location of Python, the JVM and Spark
    into the run's work directory before anything creates one."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _start_session(work: str):
    from pdf_etl_ocr_inference_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark, then the JVM gateway, and wait for the JVM to exit
    (Python workers are its children and exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=10)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    spec = _spec()

    cwd = os.getcwd()
    work = os.path.join(cwd, ".bench_work", f"{args.workload}-{os.getpid()}")
    out = os.path.join(cwd, ".bench_out")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)

    from perfbench import etl_catalog, topk_feed
    from perfbench.trace import JobCounter, Tracer, peak_rss_mb

    t0 = time.perf_counter()
    spark = _start_session(work)
    session_start_s = time.perf_counter() - t0
    try:
        ctx = Ctx(
            spark=spark,
            seed=args.seed,
            seconds=args.seconds,
            trace=bool(args.trace),
            work=work,
            checks=Checks(),
            tracer=Tracer(enabled=False),
            jobs=JobCounter(spark.sparkContext),
        )
        ctx.layer["session.start_s"] = session_start_s
        module = {"etl_catalog": etl_catalog, "topk_feed": topk_feed}[args.workload]
        e2e = module.run(ctx)
        e2e["setup_s"] += session_start_s
        ctx.layer["process.peak_rss_mb"] = peak_rss_mb(os.getpid())
        if ctx.trace:
            for layer, s in ctx.tracer.self_times().items():
                ctx.layer[f"{layer}.self_s"] = s
            ctx.tracer.dump(
                os.path.join(out, f"spans-{args.workload}-seed{args.seed}.jsonl")
            )
    finally:
        t = time.perf_counter()
        _stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: stopped in {time.perf_counter() - t:.2f} s", file=sys.stderr)

    # every end-to-end metric is measured on every workload; a layer the
    # workload never calls reports 0
    if ctx.trace:
        values = {m["name"]: ctx.layer.get(m["name"], 0.0) for m in spec["per_layer"]}
    else:
        values = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
    units = {m["name"]: m["unit"] for m in spec["per_layer"] + spec["end_to_end"]}
    metrics = {n: {"value": float(v), "unit": units[n]} for n, v in values.items()}
    ratio = ctx.checks.failed / max(ctx.checks.attempted, 1)
    for name, m in metrics.items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(
        f"{args.workload} failed_ratio = {ratio:.6g} "
        f"({ctx.checks.failed}/{ctx.checks.attempted})"
    )
    result = {
        "correct": ctx.checks.failed == 0,
        "attempted": ctx.checks.attempted,
        "failed": ctx.checks.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
