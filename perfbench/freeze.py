"""Freeze the expected output of every pool conversation.

Runs the program's single-process reference (``core.oracle``) over each
pool member and writes ``expected.json``: per conversation its input
digest, output digest, embedding digest, turn count and chunk count.  The
benchmark checks committed output against this file, so regenerate it only
when the extraction contract changes on purpose.

Usage (from the repository root): python3 perfbench/freeze.py
"""

from __future__ import annotations

import json
import multiprocessing
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _record(job: tuple[str, int]) -> tuple[str, list]:
    sys.path[:0] = [HERE, ROOT]
    from check import embedding_digest, oracle_record
    from inputs import input_digest, pool_conv
    from pdf_extractor_spark.core.embed import embed_batch
    from pdf_extractor_spark.core.oracle import process_conversation

    conv = pool_conv(*job)
    result = process_conversation("c", [(t[0], t[2]) for t in conv.turns])
    digest, n_turns, n_chunks, contents = oracle_record(result)
    emb = embedding_digest(embed_batch(contents)) if contents else embedding_digest([])
    return conv.key, [input_digest(conv), digest, emb, n_turns, n_chunks]


def main() -> None:
    sys.path[:0] = [HERE]
    from inputs import POOL

    jobs = [(kind, k) for kind, n in POOL.items() for k in range(n)]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(min(4, os.cpu_count() or 1)) as pool:
        convs = dict(pool.imap(_record, jobs, chunksize=8))
    path = os.path.join(HERE, "expected.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump({"pool": POOL, "convs": convs}, f, separators=(",", ":"), sort_keys=True)
        f.write("\n")
    print(f"{path}: {len(convs)} conversations")


if __name__ == "__main__":
    main()
