"""The doc_corpus workload: checkpointed ``run_extraction`` into a manifest sink.

Untraced, a run times whole ``run_extraction`` calls over the generated
table.  Traced, it also times each layer in isolation on materialized
inputs, the single-threaded core functions on a fixed sample, and a short
open-loop stream of the same conversations (stream.py), all from outside:
spans open and close around the benchmark's own calls.
"""

from __future__ import annotations

import inspect
import os
import random
import shutil
import statistics
import time

import check
import inputs
from procmon import host_steal_s, tree_bytes
from stream import PREROLL_FILES, WARM_FILES, stage_files, trace_stream

# conversations per call: 1 in 20 skewed, 1 in 13 rejected for XSS; sized
# so one call takes about 10 s on 4 cores
COUNTS = {"normal": 35, "skewed": 2, "xss": 3}
MIN_CALLS = 2  # calls after the warm-up call are close to steady state
INPUT_FILES = 8
GEN_ROUNDS = 3
EMBED_SAMPLE_CONVS = 8
CORE_SAMPLE_TURNS = 300
CORE_SAMPLE_CONVS = 20
STREAM_LEG_FILES = 10  # open-loop files of the traced stream leg


class TracedSink:
    """Delegates to ``ParquetManifestSink``; a span covers each commit."""

    def __init__(self, inner, tracer):
        self.inner = inner
        self.tracer = tracer

    def committed(self):
        return self.inner.committed()

    def commit(self, multiplexed, batch_id, bucket_ids):
        with self.tracer.span("plans.sinks", call="commit", batch=batch_id):
            return self.inner.commit(multiplexed, batch_id, bucket_ids)

    def read_multiplexed(self, spark):
        return self.inner.read_multiplexed(spark)


def job_tasks(sc, group: str) -> int:
    """Tasks launched by the jobs of one job group."""
    st = sc.statusTracker()
    n = 0
    for jid in st.getJobIdsForGroup(group):
        job = st.getJobInfo(jid)
        for sid in job.stageIds if job else ():
            stage = st.getStageInfo(sid)
            n += stage.numTasks if stage else 0
    return n


def pipeline_defaults() -> tuple[int, int]:
    """(buckets, buckets_per_batch) that ``run_extraction`` uses."""
    from pdf_extractor_spark.plans.pipeline import run_extraction

    params = inspect.signature(run_extraction).parameters
    return params["buckets"].default, params["buckets_per_batch"].default


def make_input(ctx) -> tuple[inputs.Table, str]:
    """Generate and write the table GEN_ROUNDS times; record the median."""
    times = []
    for r in range(GEN_ROUNDS):
        t0 = time.perf_counter()
        convs = inputs.draw(COUNTS, random.Random(f"doc_corpus:{ctx.seed}"))
        table = inputs.make_table(convs, ctx.seed, "c")
        path = os.path.join(ctx.work, f"input{r}")
        inputs.write_table(table, path, INPUT_FILES, ctx.seed)
        times.append(time.perf_counter() - t0)
    ctx.setup["gen_s"] = statistics.median(times)
    check.verify_inputs(table, ctx.expected)
    return table, path


def call_pipeline(ctx, table, path: str, scope: str, traced: bool) -> dict:
    """One timed ``run_extraction`` call, then its output check."""
    from pdf_extractor_spark.plans.pipeline import run_extraction
    from pdf_extractor_spark.plans.sinks import ParquetManifestSink

    root = os.path.join(ctx.work, scope)
    sink = ParquetManifestSink(root)
    if traced:
        sink = TracedSink(sink, ctx.tracer)
    df = ctx.read(path)
    s0 = host_steal_s()
    t0, c0 = ctx.mon.snapshot()
    if traced:
        with ctx.tracer.span("plans.pipeline", call="run_extraction"):
            res = run_extraction(ctx.spark, df, sink=sink)
    else:
        res = run_extraction(ctx.spark, df, sink=sink)
    t1, c1 = ctx.mon.snapshot()
    out = {"wall_s": t1 - t0, "cpu_s": c1 - c0, "batches": len(res["batches"]),
           "steal_s": host_steal_s() - s0, "peak_rss": ctx.mon.peak_rss}
    out["bytes"], out["files"] = tree_bytes(root)

    ctx.verdict.attempt(table)
    check.check_lineage(ctx.verdict, scope, res["totals"], table, ctx.expected)
    rows = sink.read_multiplexed(ctx.spark)
    pdf = rows.select(*check.CHECK_COLS).toPandas()
    check.check_rows(ctx.verdict, scope, pdf, table, ctx.expected)

    with_chunks = sorted(c for c, conv in table.convs.items() if ctx.expected[conv.key][4])
    sample = random.Random(f"emb:{ctx.seed}:{scope}").sample(
        with_chunks, min(EMBED_SAMPLE_CONVS, len(with_chunks))
    )
    emb = (
        rows.where(ctx.F.col("conv_id").isin(sample))
        .select("conv_id", "chunk_index", "embedding")
        .toPandas()
    )
    check.check_embeddings(ctx.verdict, scope, emb, table.subset(sample), ctx.expected)
    shutil.rmtree(root)
    return out


def warm_up(ctx, table, path: str) -> None:
    """One full pipeline call on the run's own table (checked, not timed as
    a measurement): JIT compilation and Python worker start-up happen here.
    The peak memory is taken from session start to the end of this call:
    one extraction of the table, before its output is read back."""
    call = call_pipeline(ctx, table, path, "warmup", traced=False)
    ctx.setup["warmup_s"] = call["wall_s"]
    ctx.metric("peak_rss_mb", call["peak_rss"] / 2**20)
    ctx.end_setup()


def measure(ctx) -> None:
    """Untraced: pipeline calls until ``seconds`` have passed and at least
    MIN_CALLS calls were made."""
    table, path = make_input(ctx)
    warm_up(ctx, table, path)

    calls = []
    used = 0.0
    while len(calls) < MIN_CALLS or used < ctx.seconds:
        calls.append(call_pipeline(ctx, table, path, f"call{len(calls)}", traced=False))
        used += calls[-1]["wall_s"]
    ctx.metric("turns_per_s", statistics.median(table.turns / c["wall_s"] for c in calls))
    ctx.metric("cpu_s_per_kturn",
               statistics.median(c["cpu_s"] / table.turns * 1000 for c in calls))
    ctx.metric("sink_bytes_per_turn",
               statistics.median(c["bytes"] / table.turns for c in calls))
    walls = ", ".join(f"{c['wall_s']:.2f}" for c in calls)
    steal = ", ".join(f"{c['steal_s']:.2f}" for c in calls)
    ctx.notes.append(f"pipeline call walls=[{walls}]s host steal=[{steal}]s input digest={table.digest}")


def isolated_layers(ctx, table, path: str) -> dict:
    """Each operator timed alone, per checkpoint batch, on the materialized
    output of the stage before it (materializing is not timed)."""
    from pdf_extractor_spark.operators.chunk import chunk_conversations
    from pdf_extractor_spark.operators.enrich import add_embeddings
    from pdf_extractor_spark.operators.extract import extract_turns
    from pdf_extractor_spark.plans.pipeline import bucket_col
    from pdf_extractor_spark.plans.sinks import ParquetManifestSink

    spark, sc, F = ctx.spark, ctx.spark.sparkContext, ctx.F
    iso = os.path.join(ctx.work, "isolated")
    ext_p, mux_p, emb_p = (os.path.join(iso, n) for n in ("extracted", "multiplexed", "embedded"))
    extract_turns(ctx.read(path), with_first_extract=True).write.parquet(ext_p)
    chunk_conversations(spark.read.parquet(ext_p)).write.parquet(mux_p)
    add_embeddings(spark.read.parquet(mux_p)).write.parquet(emb_p)

    buckets, per_batch = pipeline_defaults()
    batches = [list(range(b, min(b + per_batch, buckets))) for b in range(0, buckets, per_batch)]
    sink = ParquetManifestSink(os.path.join(iso, "sink"))
    out = {"extract.s": 0.0, "chunk.s": 0.0, "embed.s": 0.0, "commits": []}

    def timed(layer: str, key: str, group: str, fn) -> None:
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        with ctx.tracer.span(layer, call=group):
            fn()
        out[key] += time.perf_counter() - t0

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    for b in batches:
        keep = bucket_col(buckets).isin(b)
        timed("operators.extract", "extract.s", "extract",
              lambda: noop(extract_turns(ctx.read(path).where(keep), with_first_extract=True)))
        timed("operators.chunk", "chunk.s", "chunk",
              lambda: noop(chunk_conversations(spark.read.parquet(ext_p).where(keep))))
        timed("operators.enrich", "embed.s", "embed",
              lambda: noop(add_embeddings(spark.read.parquet(mux_p).where(keep))))
        t0 = time.perf_counter()
        with ctx.tracer.span("plans.sinks", call="commit", batch=b[0]):
            sink.commit(spark.read.parquet(emb_p).where(keep), f"{b[0]:04d}", b)
        out["commits"].append(time.perf_counter() - t0)
    sc.setLocalProperty("spark.jobGroup.id", None)
    for stage in ("extract", "chunk"):
        out[f"{stage}.tasks"] = job_tasks(sc, stage)
    mux = spark.read.parquet(mux_p)
    out["chunk.rows_out"] = mux.count()
    out["embed.chunks"] = mux.where(F.col("chunk_index") >= 0).count()
    out["extracted_path"] = ext_p
    return out


def core_layer(ctx, table, extracted_path: str) -> dict:
    """Single-threaded core functions over a fixed sample of the table."""
    from pdf_extractor_spark.core.chunker import TurnRecord, chunk_conversation
    from pdf_extractor_spark.core.embed import embed_batch
    from pdf_extractor_spark.core.oracle import extract_turn_fields
    from pdf_extractor_spark.operators.chunk import process_conversation_group

    rng = random.Random(f"core:{ctx.seed}")
    all_turns = [t[2] for c in table.convs.values() for t in c.turns]
    texts = rng.sample(all_turns, min(CORE_SAMPLE_TURNS, len(all_turns)))
    sample_ids = rng.sample(sorted(table.convs), min(CORE_SAMPLE_CONVS, len(table.convs)))
    out = {}
    with ctx.tracer.span("core", call="extract_turn_fields"):
        t0 = time.perf_counter()
        for text in texts:
            extract_turn_fields(text)
        out["core.extract_turn_fields.us_per_turn"] = (time.perf_counter() - t0) / len(texts) * 1e6

    records = []
    for cid in sample_ids:
        recs = []
        for t in table.convs[cid].turns:
            f = extract_turn_fields(t[2])
            recs.append(TurnRecord(t[0], f["clean_text"], f["printed_page"], f["chapter"]))
        records.append(recs)
    contents = []
    with ctx.tracer.span("core", call="chunk_conversation"):
        t0 = time.perf_counter()
        for recs in records:
            contents.extend(c["content"] for c in chunk_conversation(recs))
        n_turns = sum(len(r) for r in records)
        out["core.chunk_conversation.us_per_turn"] = (time.perf_counter() - t0) / n_turns * 1e6
    with ctx.tracer.span("core", call="embed_batch"):
        t0 = time.perf_counter()
        embed_batch(contents)
        out["core.embed_batch.us_per_chunk"] = (time.perf_counter() - t0) / max(1, len(contents)) * 1e6

    groups = (
        ctx.spark.read.parquet(extracted_path)
        .where(ctx.F.col("conv_id").isin(sample_ids))
        .toPandas()
    )
    with ctx.tracer.span("core", call="process_conversation_group"):
        t0 = time.perf_counter()
        n = 0
        for _, g in groups.groupby("conv_id"):
            process_conversation_group(g)
            n += 1
        out["core.process_conversation_group.us_per_group"] = (time.perf_counter() - t0) / n * 1e6
    return out


def trace_pipeline(ctx, table, path: str) -> None:
    """The per-layer numbers of one table: a traced pipeline call between
    two untraced ones (their difference is the tracing overhead), the
    isolated layers and the core sample."""
    before = call_pipeline(ctx, table, path, "untraced0", traced=False)
    traced = call_pipeline(ctx, table, path, "traced", traced=True)
    after = call_pipeline(ctx, table, path, "untraced1", traced=False)
    untraced_s = (before["wall_s"] + after["wall_s"]) / 2
    ctx.metric("trace.overhead_frac", traced["wall_s"] / untraced_s - 1)
    ctx.notes.append(
        f"trace overhead: traced call {traced['wall_s']:.3f}s, untraced calls "
        f"{before['wall_s']:.3f}s and {after['wall_s']:.3f}s"
    )
    iso = isolated_layers(ctx, table, path)
    core = core_layer(ctx, table, iso["extracted_path"])

    ncores = ctx.spark.sparkContext.defaultParallelism
    m = ctx.metric
    for k, v in core.items():
        m(k, v)
    m("extract.s", iso["extract.s"])
    m("extract.turns_per_s", table.turns / iso["extract.s"])
    m("extract.tasks", iso["extract.tasks"])
    m("chunk.s", iso["chunk.s"])
    m("chunk.groups", len(table.convs))
    m("chunk.rows_out", iso["chunk.rows_out"])
    m("chunk.tasks", iso["chunk.tasks"])
    m("embed.s", iso["embed.s"])
    m("embed.chunks", iso["embed.chunks"])
    m("sink.commit_s", statistics.median(iso["commits"]))
    m("sink.bytes", traced["bytes"])
    m("sink.files", traced["files"])
    m("pipeline.batches", traced["batches"])
    isolated_sum = iso["extract.s"] + iso["chunk.s"] + iso["embed.s"] + sum(iso["commits"])
    m("pipeline.unattributed_s", traced["wall_s"] - isolated_sum)
    m("proc.cpu_util", traced["cpu_s"] / (traced["wall_s"] * ncores))
    ctx.notes.append(
        f"pipeline wall traced={traced['wall_s']:.3f}s isolated sum={isolated_sum:.3f}s"
    )


def trace(ctx) -> None:
    table, path = make_input(ctx)
    warm_up(ctx, table, path)
    trace_pipeline(ctx, table, path)
    ids = [cid for cid, c in table.convs.items() if c.kind != "skewed"]
    stage = os.path.join(ctx.work, "stage")
    staged = stage_files(table, ids[:WARM_FILES + PREROLL_FILES + STREAM_LEG_FILES], stage)
    trace_stream(ctx, table, stage, staged)
    for k, v in table.stats().items():
        ctx.metric(k, v)
