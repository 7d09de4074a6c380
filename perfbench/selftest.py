"""Kill-and-resume self-test of the benchmark.

``run_extraction(fail_after_batches=k)`` dies after k
committed batches; a stale ``.staging`` directory is left where the next
batch would have been written, as a killed writer would leave it.  The
resumed run must execute only the uncommitted batches, remove the stale
directory, and commit output whose every conversation digest equals an
uninterrupted run's and the frozen reference.
"""

from __future__ import annotations

import os
import random

import check
import inputs
from run import stop_spark

KILL_AFTER = 2


def _digests(spark, root: str, problems: list[str]) -> dict[str, str]:
    from pdf_extractor_spark.plans.pipeline import read_multiplexed

    pdf = read_multiplexed(spark, root).select(*check.CHECK_COLS).toPandas()
    dup = pdf.duplicated(["conv_id", "chunk_index"]).sum()
    if dup:
        problems.append(f"{dup} duplicate (conv_id, chunk_index) rows under {root}")
    return check.digests_from_rows(pdf)


def _resume_problems(spark, work: str, seed: int) -> list[str]:
    from pdf_extractor_spark.plans.pipeline import run_extraction
    from pdf_extractor_spark.plans.sinks import ParquetManifestSink

    convs = inputs.draw({"normal": 25, "skewed": 1, "xss": 2}, random.Random(f"resume:{seed}"))
    table = inputs.make_table(convs, seed, "r")
    path = os.path.join(work, "resume_input")
    inputs.write_table(table, path, 4, seed)
    expected = check.load_expected()
    check.verify_inputs(table, expected)

    def read():
        return spark.read.schema(inputs.TRANSCRIPT_DDL).parquet(path)

    whole_root = os.path.join(work, "uninterrupted")
    whole = run_extraction(spark, read(), whole_root)
    n_batches = len(whole["batches"])

    root = os.path.join(work, "killed")
    try:
        run_extraction(spark, read(), root, fail_after_batches=KILL_AFTER)
        return ["run_extraction(fail_after_batches) did not stop"]
    except RuntimeError:
        pass
    sink = ParquetManifestSink(root)
    done = sink.committed()
    problems = []
    if len(done) != KILL_AFTER:
        problems.append(f"{len(done)} batches committed before the kill, expected {KILL_AFTER}")
    pending = sorted({m["batch_id"] for m in whole["batches"]} - set(done))
    stale = sink._data_path(pending[0]) + ".staging"
    os.makedirs(stale)
    with open(os.path.join(stale, "part-00000.parquet"), "wb") as f:
        f.write(b"half-written")

    resumed = run_extraction(spark, read(), root)
    if resumed["executed_now"] != n_batches - KILL_AFTER:
        problems.append(
            f"resume executed {resumed['executed_now']} batches, expected {n_batches - KILL_AFTER}"
        )
    if os.path.exists(stale):
        problems.append("the stale .staging directory survived the resume")
    if resumed["totals"] != whole["totals"]:
        problems.append(f"resumed totals {resumed['totals']} != uninterrupted {whole['totals']}")
    got, want = _digests(spark, root, problems), _digests(spark, whole_root, problems)
    if got != want:
        bad = sorted(c for c in want if got.get(c) != want[c])
        problems.append(f"resumed output differs from the uninterrupted run on {bad[:5]}")
    frozen = {cid: expected[c.key][1] for cid, c in table.convs.items()}
    if want != frozen:
        problems.append("uninterrupted output differs from the frozen reference")
    again = run_extraction(spark, read(), root)
    if again["executed_now"] != 0:
        problems.append(f"a third run re-executed {again['executed_now']} batches")
    return problems


def selftest(args) -> int:
    from pdf_extractor_spark.session import build_session

    spark = build_session("perfbench-selftest", cores=len(os.sched_getaffinity(0)))
    try:
        problems = _resume_problems(spark, args.work, args.seed)
    finally:
        stop_spark(spark)
    for p in problems:
        print(f"# FAIL {p}")
    print("# selftest " + ("failed" if problems else "passed"))
    return 1 if problems else 0
