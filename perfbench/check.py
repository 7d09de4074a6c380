"""Per-conversation output digests and the checks that compare them.

A conversation's digest covers its document row (title, status, num_turns,
chunk_count) and every chunk row (chunk_index, content, turns,
printed_pages, chapters, char_count, start_turn, end_turn).  Embeddings get
their own digest over the float32 bytes of the conversation's chunks in
order.  ``expected.json`` holds both digests for every pool conversation,
computed by ``freeze.py`` with the program's reference oracle; a run
compares the committed output against them.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")

CHUNK_FIELDS = (
    "chunk_index", "content", "turns", "printed_pages", "chapters",
    "char_count", "start_turn", "end_turn",
)
# multiplexed columns the check reads (the embedding is read on a sample only)
CHECK_COLS = ("conv_id",) + CHUNK_FIELDS + ("status", "title", "num_turns")
SENTINEL_INDEX = -1


def _ints(v) -> list[int]:
    return [int(x) for x in v]


def _strs(v) -> list:
    return [None if x is None else str(x) for x in v]


def conv_digest(doc: tuple, chunks: list[tuple]) -> str:
    """doc = (title, status, num_turns, chunk_count); chunks as CHUNK_FIELDS."""
    h = hashlib.sha256(json.dumps(list(doc), ensure_ascii=False).encode("utf-8"))
    for c in sorted(chunks, key=lambda c: c[0]):
        h.update(b"\n" + json.dumps(list(c), ensure_ascii=False).encode("utf-8"))
    return h.hexdigest()[:16]


def embedding_digest(vectors) -> str:
    h = hashlib.sha256()
    for v in vectors:
        h.update(np.asarray(v, dtype="<f4").tobytes())
    return h.hexdigest()[:16]


def oracle_record(result: dict) -> tuple[str, int, int, list[str]]:
    """(digest, num_turns, chunk_count, chunk contents) of one
    ``core.oracle.process_conversation`` result."""
    d = result["doc"]
    chunks = [
        (
            int(c["chunk_index"]), c["content"], _ints(c["turns"]), _strs(c["printed_pages"]),
            _strs(c["chapters"]), int(c["char_count"]), int(c["start_turn"]), int(c["end_turn"]),
        )
        for c in result["chunks"]
    ]
    doc = (d["title"], d["status"], int(d["num_turns"]), int(d["chunk_count"]))
    contents = [c[1] for c in sorted(chunks)]
    return conv_digest(doc, chunks), doc[2], doc[3], contents


def load_expected() -> dict:
    with open(EXPECTED_PATH, encoding="utf-8") as f:
        return json.load(f)["convs"]


def verify_inputs(table, expected: dict) -> None:
    """The generator must still produce the frozen pool texts."""
    from inputs import input_digest

    for cid, conv in table.convs.items():
        if input_digest(conv) != expected[conv.key][0]:
            raise RuntimeError(
                f"input generator drift on {conv.key}: regenerate expected.json "
                "with perfbench/freeze.py only if the grammar changed on purpose"
            )


def digests_from_rows(pdf) -> dict[str, str]:
    """conv_id -> digest of committed multiplexed rows (a pandas frame with
    CHECK_COLS); a conversation with no or several document rows gets a
    digest that cannot match."""
    out: dict[str, str] = {}
    for cid, g in pdf.groupby("conv_id", sort=False):
        docs = g[g["chunk_index"] == SENTINEL_INDEX]
        rows = g[g["chunk_index"] != SENTINEL_INDEX]
        if len(docs) != 1:
            out[cid] = f"doc-rows={len(docs)}"
            continue
        d = docs.iloc[0]
        chunks = [
            (
                int(r.chunk_index), r.content, _ints(r.turns), _strs(r.printed_pages),
                _strs(r.chapters), int(r.char_count), int(r.start_turn), int(r.end_turn),
            )
            for r in rows.itertuples(index=False)
        ]
        doc = (d["title"], d["status"], int(d["num_turns"]), len(chunks))
        out[cid] = conv_digest(doc, chunks)
    return out


class Verdict:
    """Conversations attempted and failed across every check of a run.

    A *scope* is one committed output (a pipeline call, a stream); each of
    its conversations counts once as attempted and at most once as failed.
    """

    def __init__(self):
        self.attempted = 0
        self._failed: set[tuple[str, str]] = set()
        self.problems: list[str] = []

    @property
    def failed(self) -> int:
        return len(self._failed)

    def attempt(self, table) -> None:
        self.attempted += len(table.convs)

    def fail(self, scope: str, conv_ids, what: str) -> None:
        conv_ids = sorted(conv_ids)
        if conv_ids:
            self._failed.update((scope, c) for c in conv_ids)
            self.problems.append(f"{scope}: {what}: {len(conv_ids)} conversations, e.g. {conv_ids[:3]}")


def check_rows(verdict: Verdict, scope: str, pdf, table, expected: dict) -> None:
    got = digests_from_rows(pdf)
    bad = {cid for cid, conv in table.convs.items() if got.get(cid) != expected[conv.key][1]}
    verdict.fail(scope, bad, "output digest differs from the reference")
    extra = set(got) - set(table.convs)
    if extra:
        verdict.fail(scope, table.convs, "output holds conversations that were never sent")


def check_lineage(verdict: Verdict, scope: str, totals: dict, table, expected: dict) -> None:
    want = {
        "convs": len(table.convs),
        "turns_in": table.turns,
        "chunks_out": sum(expected[c.key][4] for c in table.convs.values()),
    }
    got = {k: int(totals.get(k) or 0) for k in want}
    if got != want:
        verdict.fail(scope, table.convs, f"lineage counters {got} != {want}")


def check_embeddings(verdict: Verdict, scope: str, pdf, table, expected: dict) -> None:
    """``pdf``: (conv_id, chunk_index, embedding) rows of sampled convs."""
    bad = set()
    for cid, g in pdf.groupby("conv_id", sort=False):
        g = g[g["chunk_index"] != SENTINEL_INDEX].sort_values("chunk_index")
        if embedding_digest(g["embedding"]) != expected[table.convs[cid].key][2]:
            bad.add(cid)
    verdict.fail(scope, bad, "embedding bytes differ from the reference")
