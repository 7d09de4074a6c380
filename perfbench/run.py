"""Benchmark of the transcript extractor.

    python3 perfbench/run.py --workload doc_corpus --seed 1 --seconds 16 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root.  Each run generates its inputs from the seed
(inputs.py), starts one ``local[<cores>]`` session with
``session.build_session`` and no config overrides, warms up, measures, and
checks every committed conversation against the frozen reference
(expected.json).  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
Workload and metric names and units are read from BENCHMARK.json;
METRICS.md describes each metric.  The exit code is 0 only when every
check passed; 2 when the program or BENCHMARK.json cannot be read.

Workloads:
  doc_corpus       run_extraction over page-like conversations with skew
  stream_arrivals  run_stream draining backlogs of conversation files,
                   8 files per micro-batch (traced: one file every 0.4 s)
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

SPEC_PATH = os.path.join(ROOT, "BENCHMARK.json")


def load_spec() -> dict:
    """Workload names and metric units, from BENCHMARK.json."""
    with open(SPEC_PATH, encoding="utf-8") as f:
        spec = json.load(f)
    return {
        "workloads": [w["name"] for w in spec["workloads"]],
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


class Ctx:
    """State of one run, handed to the workload functions."""

    def __init__(self, args, spark, mon, tracer, expected, setup):
        from pyspark.sql import functions as F

        self.spark = spark
        self.F = F
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = args.work
        self.mon = mon
        self.tracer = tracer
        self.expected = expected
        self.setup = setup
        self.metrics: dict[str, float] = {}
        self.notes: list[str] = []
        import check

        self.verdict = check.Verdict()

    def read(self, path: str):
        from inputs import TRANSCRIPT_DDL

        return self.spark.read.schema(TRANSCRIPT_DDL).parquet(path)

    def metric(self, name: str, value: float) -> None:
        self.metrics[name] = float(value)

    def end_setup(self) -> None:
        self.metric("setup_s", sum(self.setup.values()))
        self.notes.append(
            "setup " + " ".join(f"{k}={v:.3f}" for k, v in self.setup.items())
        )


def prepare_env(work: str) -> None:
    """Keep the JVM, Spark and Python workers inside the checkout, and let
    the workers import the program."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (
            os.environ.get("JAVA_TOOL_OPTIONS"),
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-XX:-UsePerfData",
        ) if p
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def run_workload(args, spec: dict) -> int:
    import check
    from procmon import ProcSampler
    from tracing import Tracer

    from pdf_extractor_spark.session import build_session

    expected = check.load_expected()
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}-{int(time.time())}"
    tracer = Tracer(run_id, enabled=bool(args.trace))
    crashed = False
    with ProcSampler() as mon:
        t0 = time.perf_counter()
        spark = build_session("perfbench", cores=len(os.sched_getaffinity(0)))
        setup = {"session_s": time.perf_counter() - t0}
        ctx = Ctx(args, spark, mon, tracer, expected, setup)
        try:
            if args.workload == "stream_arrivals":
                import stream as wl
            else:
                import batch as wl
            (wl.trace if args.trace else wl.measure)(ctx)
        except Exception:
            traceback.print_exc()
            crashed = True
            ctx.verdict.problems.append("the run crashed")
        finally:
            stop_spark(spark)

    v = ctx.verdict
    attempted, failed = max(v.attempted, 1), v.failed
    if crashed:
        failed = attempted
    ctx.metric("conv_ok_frac", 1 - failed / attempted)
    if args.trace:
        os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
        path = os.path.join(WORK_ROOT, "traces", f"{args.workload}-seed{args.seed}.json")
        tracer.dump(path)
        for name, secs in tracer.self_times().items():
            ctx.metric(f"{name}.self_s", secs)
        ctx.notes.append(f"spans={len(tracer.spans)} written to {os.path.relpath(path, ROOT)}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    missing = sorted(set(wanted) - set(ctx.metrics))
    if missing and not crashed:
        v.problems.append(f"metrics not measured: {missing}")
    for line in ctx.notes + v.problems:
        print(f"# {line}")
    print(f"# failed_conv_frac={failed / attempted:.6f} ({failed}/{attempted})")
    result = {
        "correct": not v.problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": ctx.metrics[k], "unit": u} for k, u in wanted.items() if k in ctx.metrics
        },
    }
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    try:
        spec = load_spec()
    except (OSError, ValueError, KeyError) as e:
        print(f"perfbench: cannot read {SPEC_PATH}: {e}", file=sys.stderr)
        return 2
    ap.add_argument("--workload", choices=spec["workloads"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true", help="kill-and-resume check")
    args = ap.parse_args(argv)
    if not args.selftest and not args.workload:
        ap.error("--workload is required")

    sys.path[:0] = [HERE, ROOT]
    try:
        import pyspark  # noqa: F401

        import pdf_extractor_spark.plans.pipeline  # noqa: F401
        import pdf_extractor_spark.streaming.ingest  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2

    name = "selftest" if args.selftest else f"{args.workload}-{args.seed}"
    args.work = os.path.join(WORK_ROOT, f"{name}-{os.getpid()}")
    prepare_env(args.work)
    try:
        if args.selftest:
            from selftest import selftest

            return selftest(args)
        return run_workload(args, spec)
    finally:
        shutil.rmtree(args.work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
