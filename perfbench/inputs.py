"""Seeded input generator owned by the benchmark.

The grammar is adapted from the program's fixture generator (FIXTURES.md
section 1) but lives here, so a change to the program cannot change what a
workload feeds it.

Inputs are drawn from a fixed *pool* of conversations.  A pool member is
generated from its own ``random.Random(f"doc:{kind}:{k}")``, so its text
never depends on the run seed; the expected output of every member is
frozen in ``expected.json`` (see ``freeze.py``).  The run seed picks which
members a run uses, in which order, under which conversation ids, and how
the rows are shuffled across files.  Every committed conversation of every
seed can therefore be checked against the frozen reference.

Pool kinds: ``normal`` conversations of 5-40 turns, ``skewed`` ones of
about 35x the mean turn count, and ``xss`` conversations that carry one
injection payload and must be rejected whole.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass

EPOCH_S = 1_704_067_200
# the schema of the generated files (the program's transcripts input)
TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)
ROLES = ("user", "assistant", "tool")
TOOLS = (None, "search", None, "browser", None, None, "calculator", None)

# pool sizes per kind: large against one run's draw so seeds give different mixes
POOL = {"normal": 700, "skewed": 30, "xss": 60}
LO_TURNS, HI_TURNS = 5, 40
SKEW_LO, SKEW_HI = 700, 880  # ~35x the 22.5-turn mean

_WORDS = (
    "engine torque manifold sensor coolant piston valve gasket throttle spark "
    "ignition filter bracket assembly harness relay module chassis bearing seal "
    "clutch differential axle rotor caliper spindle linkage damper spring bolt "
    "procedure inspection removal installation adjustment specification warning "
    "caution system pressure temperature voltage resistance circuit connector "
    "terminal diagram section figure reference maintenance service interval fluid"
).split()
_UNICODE_BITS = ("°C", "–", "—", "“quoted”", "’s", "±0.5", "Ω", "µm", "日本語", "naïve")
_CHAPTERS = (
    "ENGINE", "TRANSMISSION", "BRAKES", "SUSPENSION", "ELECTRICAL",
    "Cooling System", "Fuel Injection", "BODY PANELS",
)
_XSS_SNIPPETS = (
    "<script>alert(document.cookie)</script>",
    '<img src=x onerror="steal()">',
    "click javascript:void(0) now",
    "/OpenAction (this.run)",
)
_FOOTERS = (
    "Downloaded from www.manualslib.com manuals search engine",
    "– CONTINUED –",
)


# --- content grammar (page-like turns) --------------------------------------

def _sentence(rng: random.Random, n_lo: int = 6, n_hi: int = 14) -> str:
    n = rng.randint(n_lo, n_hi)
    words = [rng.choice(_WORDS) for _ in range(n)]
    if rng.random() < 0.12:
        words[rng.randrange(n)] = rng.choice(_UNICODE_BITS)
    words[0] = words[0].capitalize()
    return " ".join(words) + rng.choice("..........!?")


def _paragraph(rng: random.Random, min_chars: int, max_chars: int) -> str:
    parts: list[str] = []
    total = 0
    target = rng.randint(min_chars, max_chars)
    while total < target:
        s = _sentence(rng)
        parts.append(s)
        total += len(s) + 1
    return " ".join(parts)


def _wrap(text: str, width: int) -> list[str]:
    out: list[str] = []
    line: list[str] = []
    used = 0
    for w in text.split(" "):
        if used and used + 1 + len(w) > width:
            out.append(" ".join(line))
            line, used = [w], len(w)
        else:
            line.append(w)
            used += len(w) + (1 if used else 0)
    if line:
        out.append(" ".join(line))
    return out


def _header_line(rng: random.Random) -> str:
    chap = rng.choice(_CHAPTERS)
    kind = rng.random()
    if kind < 0.4:
        return f"{chap} {rng.randint(1, 20)}-{rng.randint(1, 99)}"
    if kind < 0.65:
        return f"{rng.randint(1, 400)} {chap}"
    if kind < 0.8:
        return f"{chap} {rng.randint(1985, 2030)}"  # a year, not a page number
    return chap


def _cid(rng: random.Random, text: str) -> str:
    if rng.random() < 0.35:
        cid = rng.choice(["(cid:121)", "(cid:150)", "(cid:146)", "(cid:999)", "(cid:84)"])
        ws = text.split(" ")
        ws.insert(rng.randrange(len(ws)), cid)
        text = " ".join(ws)
    return text


def _hyphen_break(rng: random.Random, lines: list[str]) -> list[str]:
    for i, ln in enumerate(lines[:-1]):
        ws = ln.split(" ")
        long_idx = [j for j, w in enumerate(ws) if len(w) >= 8 and w.isalpha()]
        if long_idx:
            j = rng.choice(long_idx)
            cut = len(ws[j]) // 2
            lines[i] = " ".join(ws[:j] + [ws[j][:cut] + "-"])
            lines[i + 1] = " ".join([ws[j][cut:]] + ws[j + 1:]) + " " + lines[i + 1]
            break
    return lines


def _list_block(rng: random.Random, numbered: bool) -> str:
    long = rng.random() < 0.4
    n = rng.randint(8, 14) if long else rng.randint(3, 6)
    items = []
    for k in range(1, n + 1):
        mark = f"{k}{rng.choice('.)')}" if numbered else rng.choice("-*•o▶►")
        body = _paragraph(rng, 80, 220) if long else _sentence(rng)
        items.append(f"{mark} {body}")
    return "\n".join(items)


def _two_column(rng: random.Random) -> str:
    left = _wrap(_paragraph(rng, 400, 700), 58)
    right = _wrap(_paragraph(rng, 400, 700), 58)
    rows = []
    for i in range(rng.randint(8, 14)):
        l = left[i] if i < len(left) else ""
        r = right[i] if i < len(right) else ""
        rows.append(f"{l:<60}" + " " * 14 + r)
    return _header_line(rng) + "\n" + "\n".join(rows)


def _html_page(rng: random.Random) -> str:
    links = "".join(f'<li><a href="/x/{w}">{w} {w}</a></li>' for w in rng.sample(_WORDS, 5))
    return (
        "<html><head><title>Service Portal</title></head><body>"
        f"<nav><ul>{links}</ul></nav>"
        f"<header><h1>{rng.choice(_CHAPTERS).title()} Guide</h1></header>"
        f"<div class='main'><p>{_paragraph(rng, 300, 900)}</p>"
        f"<p>{_paragraph(rng, 150, 400)}</p></div>"
        f"<aside>{' '.join(rng.choice(_WORDS) for _ in range(6))}</aside>"
        "<footer><a href='/tos'>terms</a> <a href='/priv'>privacy</a></footer>"
        "</body></html>"
    )


def _doc_turn(rng: random.Random, turn_idx: int) -> str:
    if turn_idx == 0 and rng.random() < 0.5:  # multi-line title opener
        return (
            f"{rng.choice(_CHAPTERS).title()} Workshop Manual\n"
            f"{_sentence(rng, 4, 8)}\nService Publication {rng.randint(100, 999)}\n\n"
            + _paragraph(rng, 300, 600)
        )
    roll = rng.random()
    if roll < 0.30:  # prose page with header and footer furniture
        lines = [_header_line(rng)]
        for _ in range(rng.randint(1, 3)):
            lines.extend(_wrap(_cid(rng, _paragraph(rng, 200, 900)), rng.randint(68, 92)))
        lines = _hyphen_break(rng, lines)
        if rng.random() < 0.3:
            lines.append(rng.choice(_FOOTERS))
        return "\n".join(lines)
    if roll < 0.40:  # long paragraph: sentence repacking
        return "\n".join(_wrap(_paragraph(rng, 1400, 2600), 88))
    if roll < 0.50:
        return _list_block(rng, numbered=False)
    if roll < 0.58:
        return _list_block(rng, numbered=True)
    if roll < 0.65:  # header-shaped short blocks
        pick = rng.random()
        if pick < 0.4:
            return rng.choice(_CHAPTERS).upper()
        if pick < 0.7:
            return f"Chapter {rng.randint(1, 30)} {rng.choice(_WORDS).title()}"
        return " ".join(w.title() for w in rng.sample(_WORDS, 4))
    if roll < 0.73:
        return _two_column(rng)
    if roll < 0.83:
        return _html_page(rng)
    if roll < 0.88:  # whitespace pathology and control characters
        return (
            _sentence(rng) + "\n" * rng.randint(3, 12) + "col1    \t  col2      col3\n"
            + "\x07" + _sentence(rng) + "\x1f\n   " + _sentence(rng) + "\t\t" + _sentence(rng)
        )
    if roll < 0.92:
        return rng.choice(["", "   ", "\n\n", " \t \n "])
    lines = [_header_line(rng)]
    lines.extend(_wrap(_cid(rng, _paragraph(rng, 150, 500)), 80))
    return "\n".join(lines)


# --- pools ----------------------------------------------------------------

@dataclass(frozen=True)
class PoolConv:
    """One pool member: its key in expected.json and its (turn_idx, role,
    text, tool) rows in turn order."""

    key: str
    kind: str
    turns: tuple


def _turn_count(rng: random.Random, kind: str) -> int:
    if kind == "skewed":
        return rng.randint(SKEW_LO, SKEW_HI)
    return rng.randint(LO_TURNS, HI_TURNS)


def turn_count(kind: str, k: int) -> int:
    """A pool member's turn count without generating its text."""
    return _turn_count(random.Random(f"doc:{kind}:{k}"), kind)


def pool_conv(kind: str, k: int) -> PoolConv:
    rng = random.Random(f"doc:{kind}:{k}")
    n = _turn_count(rng, kind)
    xss_at = rng.randrange(n) if kind == "xss" else -1
    turns = []
    for t in range(n):
        if t == xss_at:
            text = _sentence(rng) + " " + rng.choice(_XSS_SNIPPETS)
        else:
            text = _doc_turn(rng, t)
        turns.append((t, ROLES[t % 3], text, TOOLS[t % len(TOOLS)]))
    return PoolConv(f"{kind}/{k}", kind, tuple(turns))


def input_digest(conv: PoolConv) -> str:
    h = hashlib.sha256()
    for t, role, text, tool in conv.turns:
        h.update(f"{t}\x1e{role}\x1e{tool}\x1e{text}\x1f".encode("utf-8"))
    return h.hexdigest()[:16]


def draw(counts: dict[str, int], rng: random.Random) -> list[PoolConv]:
    """``counts[kind]`` distinct members of each kind, in seeded order.

    The draw is stratified by turn count: the kind's pool, sorted by length,
    is cut into ``counts[kind]`` equal strata and one member is picked from
    each, so every seed sends a different mix with about the same number
    of turns.
    """
    picked = []
    for kind in sorted(counts):
        n = counts[kind]
        pool = sorted(range(POOL[kind]), key=lambda k: (turn_count(kind, k), k))
        for i in range(n):
            lo, hi = i * len(pool) // n, (i + 1) * len(pool) // n
            picked.append(pool_conv(kind, pool[rng.randrange(lo, hi)]))
    rng.shuffle(picked)
    return picked


# --- tables and files -------------------------------------------------------

@dataclass
class Table:
    """A generated transcripts table: conv_id -> pool member, plus stats."""

    convs: dict  # conv_id -> PoolConv
    turns: int
    bytes: int
    digest: str

    def subset(self, conv_ids) -> "Table":
        convs = {cid: self.convs[cid] for cid in conv_ids}
        return Table(
            convs,
            sum(len(c.turns) for c in convs.values()),
            sum(len(t[2].encode("utf-8")) for c in convs.values() for t in c.turns),
            self.digest,
        )

    def stats(self) -> dict[str, float]:
        sizes = sorted((len(c.turns) for c in self.convs.values()), reverse=True)
        top = max(1, len(sizes) // 20)
        html = sum(
            1 for c in self.convs.values() for t in c.turns if t[2].lstrip().startswith("<")
        )
        return {
            "input.turns": self.turns,
            "input.convs": len(self.convs),
            "input.bytes": self.bytes,
            "input.mean_turn_bytes": self.bytes / self.turns,
            "input.top5pct_conv_turn_share": sum(sizes[:top]) / self.turns,
            "input.xss_conv_share": sum(c.kind == "xss" for c in self.convs.values())
            / len(self.convs),
            "input.html_turn_share": html / self.turns,
        }


def make_table(convs: list[PoolConv], seed: int, prefix: str) -> Table:
    by_id = {f"{prefix}{seed}-{i:05d}": c for i, c in enumerate(convs)}
    h = hashlib.sha256()
    n_turns = n_bytes = 0
    for cid, c in by_id.items():
        h.update(f"{cid}={input_digest(c)};".encode())
        n_turns += len(c.turns)
        n_bytes += sum(len(t[2].encode("utf-8")) for t in c.turns)
    return Table(by_id, n_turns, n_bytes, h.hexdigest()[:16])


def _rows(conv_id: str, conv: PoolConv, ordinal: int) -> list[tuple]:
    return [
        (conv_id, t, role, text, tool, EPOCH_S + ordinal * 86_400 + t * 60)
        for t, role, text, tool in conv.turns
    ]


def _arrow_table(rows: list[tuple]):
    import pyarrow as pa

    cols = list(zip(*rows)) if rows else [()] * 6
    return pa.table(
        {
            "conv_id": pa.array(cols[0], pa.string()),
            "turn_idx": pa.array(cols[1], pa.int32()),
            "role": pa.array(cols[2], pa.string()),
            "text": pa.array(cols[3], pa.string()),
            "tool": pa.array(cols[4], pa.string()),
            "ts": pa.array([s * 1_000_000 for s in cols[5]], pa.timestamp("us", tz="UTC")),
        }
    )


def write_table(table: Table, path: str, n_files: int, seed: int) -> None:
    """Write the rows shuffled across ``n_files`` parquet files, the way
    several upstream writers would leave them."""
    import pyarrow.parquet as pq

    rows = []
    for i, (cid, c) in enumerate(table.convs.items()):
        rows.extend(_rows(cid, c, i))
    random.Random(f"rows:{seed}").shuffle(rows)
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // n_files)
    for f in range(n_files):
        pq.write_table(_arrow_table(rows[f * step:(f + 1) * step]),
                       os.path.join(path, f"part-{f:03d}.parquet"))


def write_conv_file(table: Table, conv_ids: list[str], path: str) -> None:
    """One arrival file holding whole conversations."""
    import pyarrow.parquet as pq

    ordinal = {cid: i for i, cid in enumerate(table.convs)}
    rows = []
    for cid in conv_ids:
        rows.extend(_rows(cid, table.convs[cid], ordinal[cid]))
    pq.write_table(_arrow_table(rows), path)
