"""Stream workload over ``streaming.ingest.run_stream``.

Conversation files are generated before the stream starts, each holding
one whole conversation, and renamed into the watched directory when they
are due.  Two arrival shapes:

* backlog rounds (untraced run, the gated figures): the stream runs with
  ``max_files_per_trigger=FILES_PER_BATCH``; a round renames ROUND_FILES
  files at once and ends when the last of them is committed, so every
  micro-batch holds FILES_PER_BATCH files and a round's turns/s carries
  each batch's fixed cost.  The first WARM_ROUNDS rounds warm the stream
  and are not timed; about ``--seconds`` of timed rounds follow.
* open loop (traced run, the lag figures): the stream runs with the
  program's defaults; after two warm-up files committed one at a time, a
  generator thread renames one file every INTERVAL_S seconds, whatever the
  stream is doing, and notes how late it ran.  The first PREROLL_FILES
  arrivals are not timed.  A file's lag runs from its due time to the
  commit marker of the micro-batch that read it.

The file-to-batch mapping comes from the streaming checkpoint's source
log, the commit time from the commit marker's modification time.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import threading
import time

import check
import inputs
from procmon import tree_bytes

FILES_PER_BATCH = 8
ROUND_FILES = 2 * FILES_PER_BATCH
ROUND_XSS = 1
MIN_ROUNDS = 3
# The number of timed rounds follows from --seconds, not from how fast the
# rounds run: rounds still speed up as the stream warms, so stopping once
# --seconds have passed would give fast runs an extra, faster round.
ROUND_S = 5.5  # a round's time on a shared 4-core VM
# untimed rounds: the cold first micro-batches of the stream, then one
# more, as rounds still speed up after the first
WARM_ROUNDS = 2
INTERVAL_S = 0.4
WARM_FILES = 2
PREROLL_FILES = 10  # sent open-loop before the timed files, not timed
OPEN_LOOP_FILES = 40
GEN_ROUNDS = 3
DRAIN_TIMEOUT_S = 120.0
TAIL_LADDER = (99, 95, 90, 85, 80, 75, 50)
INPUT_FILES = 8  # files of the same conversations written as one table


def _batch_logs(ckpt: str) -> tuple[dict[str, int], dict[int, float]]:
    """(file name -> batch id, batch id -> commit time) from a checkpoint.

    The source log is compacted every few batches into ``<n>.compact``;
    every entry carries its own batchId, so both kinds of log file are read.
    """
    src_dir = os.path.join(ckpt, "sources", "0")
    com_dir = os.path.join(ckpt, "commits")
    files: dict[str, int] = {}
    if os.path.isdir(src_dir):
        for name in os.listdir(src_dir):
            if not name.removesuffix(".compact").isdigit():
                continue
            with open(os.path.join(src_dir, name), encoding="utf-8") as f:
                lines = f.read().splitlines()
            for line in lines[1:]:  # line 0 is the log version
                if line.strip():
                    entry = json.loads(line)
                    files[os.path.basename(entry["path"])] = int(entry["batchId"])
    commits: dict[int, float] = {}
    if os.path.isdir(com_dir):
        for name in os.listdir(com_dir):
            if name.isdigit():
                commits[int(name)] = os.stat(os.path.join(com_dir, name)).st_mtime
    return files, commits


def _wait_committed(ckpt: str, names) -> tuple[dict, dict]:
    deadline = time.time() + DRAIN_TIMEOUT_S
    while True:
        files, commits = _batch_logs(ckpt)
        if all(n in files and files[n] in commits for n in names):
            return files, commits
        if time.time() > deadline:
            raise TimeoutError(f"stream did not commit {len(names)} files in time")
        time.sleep(0.05)


class Arrivals(threading.Thread):
    """Sends files into the watched directory on a fixed schedule."""

    def __init__(self, names: list[str], move, start_at: float):
        super().__init__(name="arrivals", daemon=True)
        self.names = names
        self.move = move
        self.due = [start_at + i * INTERVAL_S for i in range(len(names))]
        self.late: list[float] = []

    def run(self) -> None:
        for name, due in zip(self.names, self.due):
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            self.move(name)
            self.late.append(time.time() - due)


def stage_files(table, conv_ids: list[str], stage: str) -> list[tuple[str, str]]:
    """Write one arrival file per conversation; (file name, conv_id) pairs."""
    os.makedirs(stage, exist_ok=True)
    staged = []
    for i, cid in enumerate(conv_ids):
        name = f"f{i:04d}.parquet"
        inputs.write_conv_file(table, [cid], os.path.join(stage, name))
        staged.append((name, cid))
    return staged


def stream_leg(ctx, table, stage: str, staged: list[tuple[str, str]], drive,
               max_files_per_trigger: int | None = None) -> dict:
    """Start ``run_stream`` on an empty watched directory, let ``drive``
    send files into it, stop the stream and check everything it committed.

    ``drive(move, ckpt, t_start)`` renames files with ``move(name)`` and
    returns its measurements: a dict holding the names it sent under
    ``"sent"`` and the time from ``t_start`` (stream start, perf_counter)
    to the end of its warm-up under ``"warm_s"``.
    """
    from pdf_extractor_spark.streaming.ingest import (
        ingest_progress_metrics,
        quarantined_convs,
        read_stream_output,
        run_stream,
    )

    base = os.path.join(ctx.work, "stream")
    watch, out_dir, ckpt = (os.path.join(base, n) for n in ("watch", "out", "ckpt"))
    os.makedirs(watch)

    def move(name: str) -> None:
        os.rename(os.path.join(stage, name), os.path.join(watch, name))

    with ctx.tracer.span("streaming", call="run_stream"):
        t0 = time.perf_counter()
        query = run_stream(ctx.spark, watch, out_dir, ckpt, available_now=False,
                           max_files_per_trigger=max_files_per_trigger)
        try:
            leg = drive(move, ckpt, t0)
            # progress reports are posted after the commit marker is written
            last = max(_batch_logs(ckpt)[1])
            deadline = time.time() + DRAIN_TIMEOUT_S
            while not any(p.batchId == last for p in query.recentProgress):
                if time.time() > deadline:
                    raise TimeoutError(f"no progress report for micro-batch {last}")
                time.sleep(0.05)
            leg["progress"] = list(query.recentProgress)
            counters = ingest_progress_metrics(query)
        finally:
            query.stop()

    conv_of = dict(staged)
    sent = table.subset(conv_of[n] for n in leg["sent"])
    ctx.verdict.attempt(sent)
    pdf = read_stream_output(ctx.spark, out_dir).select(*check.CHECK_COLS).toPandas()
    check.check_rows(ctx.verdict, "stream", pdf, sent, ctx.expected)
    n_quarantined = quarantined_convs(ctx.spark, out_dir)
    if n_quarantined:
        ctx.verdict.fail("stream", sent.convs, f"{n_quarantined} conversations quarantined")
    if counters["turns"] != sent.turns:
        ctx.verdict.fail("stream", sent.convs,
                         f"stream counted {counters['turns']} turns, sent {sent.turns}")
    leg["sink_bytes"] = tree_bytes(out_dir)[0]
    leg["turns_sent"] = sent.turns
    return leg


def timed_rounds(seconds: float) -> int:
    return max(MIN_ROUNDS, round(seconds / ROUND_S))


def backlog_rounds(ctx, table, staged: list[tuple[str, str]]):
    """``drive`` for the backlog rounds: WARM_ROUNDS untimed rounds, then
    the timed ones, one round per ROUND_FILES staged files."""
    names = [n for n, _ in staged]
    turns_of = {n: len(table.convs[cid].turns) for n, cid in staged}
    rounds = [names[i:i + ROUND_FILES] for i in range(0, len(names), ROUND_FILES)]

    def drive(move, ckpt, t_start) -> dict:
        timed = []
        for i, group in enumerate(rounds):
            t0 = time.time()
            _, c0 = ctx.mon.snapshot()
            for name in group:
                move(name)
            files, commits = _wait_committed(ckpt, group)
            _, c1 = ctx.mon.snapshot()
            batch_ids = sorted({files[n] for n in group})
            if i == 0:
                peak_rss = ctx.mon.peak_rss
            if i < WARM_ROUNDS:
                warm_s = time.perf_counter() - t_start
                continue
            timed.append({
                "wall_s": max(commits[b] for b in batch_ids) - t0,
                "cpu_s": c1 - c0,
                "turns": sum(turns_of[n] for n in group),
                "batch_ids": batch_ids,
            })
        return {"warm_s": warm_s, "rounds": timed, "sent": names, "peak_rss": peak_rss}

    return drive


def open_loop(names: list[str]):
    """``drive`` for the open loop: the first WARM_FILES files one at a
    time, then the rest on the INTERVAL_S schedule; the first PREROLL_FILES
    of those are not timed."""

    def drive(move, ckpt, t_start) -> dict:
        for name in names[:WARM_FILES]:
            move(name)
            _wait_committed(ckpt, [name])
        warm_s = time.perf_counter() - t_start

        sent = names[WARM_FILES:]
        timed = sent[PREROLL_FILES:]
        gen = Arrivals(sent, move, time.time() + 0.1)
        gen.start()
        gen.join(timeout=DRAIN_TIMEOUT_S)
        files, commits = _wait_committed(ckpt, timed)
        due = dict(zip(sent, gen.due))
        done_at = [commits[files[n]] for n in sent]
        # files due but not yet committed, seen at each timed due time
        backlog = max(
            sum(1 for d in gen.due if d <= due[m]) - sum(1 for c in done_at if c <= due[m])
            for m in timed
        )
        return {
            "warm_s": warm_s,
            "sent": names,
            "lags": [commits[files[n]] - due[n] for n in timed],
            "late_max_s": max(gen.late[PREROLL_FILES:]),
            "backlog_max": backlog,
            "batch_ids": {files[n] for n in timed},
        }

    return drive


def make_input(ctx, n_files: int) -> tuple[inputs.Table, str, list[tuple[str, str]]]:
    """Generate the conversations and stage their files GEN_ROUNDS times;
    record the median.

    Each kind is one stratified draw over the whole run, so every seed
    sends about the same number of turns, and about the same share of them
    in XSS conversations, which commit no chunks.  The draws are dealt out
    by length, back and forth over the rounds of ROUND_FILES files
    (ROUND_XSS of them XSS), so backlog rounds carry about the same number
    of turns."""
    n_rounds = -(-n_files // ROUND_FILES)
    per_kind = {"normal": ROUND_FILES - ROUND_XSS, "xss": ROUND_XSS}
    times = []
    for r in range(GEN_ROUNDS):
        t0 = time.perf_counter()
        rng = random.Random(f"stream_arrivals:{ctx.seed}")
        groups = [[] for _ in range(n_rounds)]
        for kind, n in per_kind.items():
            drawn = sorted(inputs.draw({kind: n * n_rounds}, rng), key=lambda c: (len(c.turns), c.key))
            for k, conv in enumerate(drawn):
                i = k % n_rounds
                groups[i if k // n_rounds % 2 == 0 else n_rounds - 1 - i].append(conv)
        convs = []
        for group in groups:
            rng.shuffle(group)
            convs.extend(group)
        table = inputs.make_table(convs[:n_files], ctx.seed, "s")
        stage = os.path.join(ctx.work, f"stage{r}")
        staged = stage_files(table, list(table.convs), stage)
        times.append(time.perf_counter() - t0)
    ctx.setup["gen_s"] = statistics.median(times)
    check.verify_inputs(table, ctx.expected)
    return table, stage, staged


def measure(ctx) -> None:
    """Untraced: backlog rounds, every micro-batch FILES_PER_BATCH files."""
    n_files = ROUND_FILES * (WARM_ROUNDS + timed_rounds(ctx.seconds))
    table, stage, staged = make_input(ctx, n_files)
    leg = stream_leg(ctx, table, stage, staged, backlog_rounds(ctx, table, staged),
                     max_files_per_trigger=FILES_PER_BATCH)
    ctx.setup["warmup_s"] = leg["warm_s"]
    ctx.end_setup()
    rounds = leg["rounds"]
    ctx.metric("turns_per_s", statistics.median(r["turns"] / r["wall_s"] for r in rounds))
    ctx.metric("cpu_s_per_kturn",
               statistics.median(r["cpu_s"] / r["turns"] * 1000 for r in rounds))
    ctx.metric("sink_bytes_per_turn", leg["sink_bytes"] / leg["turns_sent"])
    ctx.metric("peak_rss_mb", leg["peak_rss"] / 2**20)
    busy = {p.batchId: p for p in leg["progress"]}
    shape = "; ".join(
        f"{r['wall_s']:.2f}s " + ",".join(
            f"{busy[b].numInputRows}/{busy[b].durationMs['triggerExecution'] / 1000:.2f}s"
            for b in r["batch_ids"] if b in busy
        )
        for r in rounds
    )
    ctx.notes.append(f"rounds wall batches(rows/time)=[{shape}] input digest={table.digest}")


def lag_stats(lags: list[float]) -> tuple[float, float, str]:
    """Median, and the highest percentile with at least ten samples beyond
    it (the maximum when there are too few samples), with its label."""
    n = len(lags)
    p = next((p for p in TAIL_LADDER if n * (100 - p) / 100 >= 10), None)
    if p is None:
        tail, label = max(lags), "max"
    else:
        tail, label = statistics.quantiles(lags, n=100, method="inclusive")[p - 1], f"p{p}"
    return statistics.median(lags), tail, f"{label} of {n} files"


def layer_metrics(ctx, leg: dict) -> None:
    m = ctx.metric
    batches = [p for p in leg["progress"] if p.batchId in leg["batch_ids"]]
    p50, tail, label = lag_stats(leg["lags"])
    m("stream.lag_p50_s", p50)
    m("stream.lag_tail_s", tail)
    ctx.notes.append(f"lag p50={p50:.3f}s tail={tail:.3f}s ({label})")
    m("stream.batches", len(batches))
    m("stream.batch_s",
      statistics.median(p.durationMs["triggerExecution"] for p in batches) / 1000)
    m("stream.rows_per_batch", statistics.median(p.numInputRows for p in batches))
    m("stream.backlog_max_files", leg["backlog_max"])
    m("stream.gen_late_max_s", leg["late_max_s"])


def trace_stream(ctx, table, stage: str, staged: list[tuple[str, str]]) -> dict:
    """The open-loop leg over ``staged``, traced."""
    leg = stream_leg(ctx, table, stage, staged, open_loop([n for n, _ in staged]))
    layer_metrics(ctx, leg)
    return leg


def trace(ctx) -> None:
    """The open-loop leg, then every batch layer over the same
    conversations written as one table."""
    from batch import call_pipeline, trace_pipeline

    table, stage, staged = make_input(ctx, WARM_FILES + PREROLL_FILES + OPEN_LOOP_FILES)
    leg = trace_stream(ctx, table, stage, staged)
    ctx.setup["warmup_s"] = leg["warm_s"]
    ctx.end_setup()
    path = os.path.join(ctx.work, "as_table")
    inputs.write_table(table, path, INPUT_FILES, ctx.seed)
    # the batch path is still cold here; warm it so the calls that measure
    # the tracing overhead start level
    call_pipeline(ctx, table, path, "warmup", traced=False)
    trace_pipeline(ctx, table, path)
    for k, v in table.stats().items():
        ctx.metric(k, v)
