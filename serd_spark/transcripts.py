"""Deterministic synthetic transcript corpus (FIXTURES.md F1).

Schema matches BASELINE.json input_hint exactly:
  (conv_id string, turn_idx int, role string, text string,
   tool string, ts timestamp)

Each conversation's concatenated turn texts form one Turtle document,
chunked at *statement boundaries* across turns (the per-turn text
equality invariant: text is never normalized — all transforms happen
on emitted terms).  Content is a seeded mix of the grammar surface:
directives (incl. mid-document reassignment), prefixed names with
escapes, relative IRIs, every literal shape, blanks/anon/collections,
and (for lax fixtures) injected syntax errors.

Everything is a pure function of (seed, conv index) via blake2 — rows
are identical regardless of partitioning, executor count, or retries,
which is what makes the corpus usable for resumability tests and the
two-parallelism-level scaling run.

~1% of conversations are "mega" (100× median turns) to exercise the
bounded-chunk Turtle pass (SURVEY.md §2.5 skew note).
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timedelta, timezone
from typing import Iterator

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)

_EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)
_ROLES = ("user", "assistant", "tool")
_TOOLS = (None, "search", "code", "browser", None, None)

_WORDS = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
          "kilo lima mike november oscar papa quebec romeo sierra tango").split()


class _Rng:
    """Tiny deterministic generator: blake2b counter mode."""

    __slots__ = ("key", "ctr", "buf", "pos")

    def __init__(self, *parts):
        self.key = hashlib.blake2b(
            ("|".join(str(p) for p in parts)).encode(), digest_size=16
        ).digest()
        self.ctr = 0
        self.buf = b""
        self.pos = 0

    def _refill(self):
        self.buf = hashlib.blake2b(
            self.key + self.ctr.to_bytes(8, "little"), digest_size=64
        ).digest()
        self.ctr += 1
        self.pos = 0

    def byte(self) -> int:
        if self.pos >= len(self.buf):
            self._refill()
        b = self.buf[self.pos]
        self.pos += 1
        return b

    def randint(self, lo: int, hi: int) -> int:
        # inclusive; small ranges only (modulo bias irrelevant here)
        span = hi - lo + 1
        v = (self.byte() << 8) | self.byte()
        return lo + v % span

    def choice(self, seq):
        return seq[self.randint(0, len(seq) - 1)]

    def chance(self, pct: int) -> bool:
        return self.randint(0, 99) < pct


def _gen_statement(rng: _Rng, stmt_no: int, with_errors: bool) -> str:
    """One complete Turtle statement or directive."""
    kind = rng.randint(0, 99)
    w = lambda: rng.choice(_WORDS)
    if kind < 6:
        # directive (incl. reassignment: small name pool)
        name = rng.choice(["ex", "kg", "d", ""])
        if rng.chance(20):
            return f"@base <http://base{rng.randint(0, 3)}.example/> ."
        style = rng.chance(30)
        uri = f"http://ns{rng.randint(0, 5)}.example/{w()}#"
        if style:
            return f"PREFIX {name}: <{uri}>"
        return f"@prefix {name}: <{uri}> ."
    subj = {
        0: lambda: f"<http://example.org/{w()}/{rng.randint(0, 9999)}>",
        1: lambda: f"<{w()}/{rng.randint(0, 999)}>",  # relative
        2: lambda: f"_:n{rng.randint(0, 99)}",
        3: lambda: f"ex:{w()}{rng.randint(0, 999)}",
    }[rng.randint(0, 3)]()
    pred = rng.choice([
        "a", f"<http://example.org/p/{w()}>", f"ex:{w()}",
        f"kg:{w()}\\%{rng.randint(10, 99)}",
    ])
    on = rng.randint(0, 9)
    if on < 3:
        obj = f'"{w()} {w()}"'
        if rng.chance(30):
            obj += f"@{rng.choice(['en', 'en-GB', 'de', 'ja'])}"
        elif rng.chance(30):
            obj += f"^^<http://www.w3.org/2001/XMLSchema#{rng.choice(['string', 'token'])}>"
    elif on == 3:
        obj = f'"esc\\t{w()}\\n\\"q\\" \\u00e9"'
    elif on == 4:
        obj = rng.choice([
            str(rng.randint(-999, 9999)),
            f"{rng.randint(0, 99)}.{rng.randint(0, 99)}",
            f"{rng.randint(1, 9)}.{rng.randint(0, 9)}e{rng.randint(-3, 3)}",
            "true", "false",
        ])
    elif on == 5:
        obj = f"( {rng.randint(0, 9)} \"{w()}\" <http://example.org/{w()}> )"
    elif on == 6:
        obj = f"[ ex:{w()} \"{w()}\" ]"
    elif on == 7:
        obj = f"_:n{rng.randint(0, 99)}"
    elif on == 8:
        obj = f"'''{w()}\n{w()} \"inner\" {w()}'''"
    else:
        obj = f"<http://example.org/{w()}#{rng.randint(0, 999)}>"
    if pred == "a" and (obj.startswith('"') or obj.startswith("'")
                        or obj[0].isdigit() or obj[0] in "+-.(["
                        or obj in ("true", "false") or obj.startswith("_:")):
        pred = f"ex:{w()}"
    if with_errors and rng.chance(4):
        return f"{subj} {pred} <unterminated"
    extra = ""
    if rng.chance(25):
        extra = f" ; ex:{w()} \"{w()}\""
    if rng.chance(20):
        extra += f' , "{w()}"' if extra else f' , <http://example.org/{w()}>'
    return f"{subj} {pred} {obj}{extra} ."


def conv_turns(
    conv_idx: int,
    seed: int = 42,
    mega_every: int = 128,
    mega_factor: int = 100,
    base_turns: tuple[int, int] = (4, 12),
    with_errors: bool = False,
) -> Iterator[tuple]:
    """Yield (conv_id, turn_idx, role, text, tool, ts) rows for one
    conversation — pure function of (seed, conv_idx)."""
    rng = _Rng("conv", seed, conv_idx)
    conv_id = f"conv-{seed}-{conv_idx:08d}"
    n_turns = rng.randint(*base_turns)
    if mega_every and conv_idx % mega_every == 0:
        n_turns *= mega_factor
    # Every conversation opens with a guaranteed prefix block so that
    # prefixed names used later always resolve.
    stmt_no = 0
    for turn_idx in range(n_turns):
        n_stmts = rng.randint(1, 3)
        parts = []
        if turn_idx == 0:
            parts.append("@prefix ex: <http://example.org/ex#> .")
            parts.append("@prefix kg: <http://example.org/kg#> .")
            parts.append("@prefix : <http://example.org/def#> .")
            parts.append("@prefix d: <http://example.org/d#> .")
        for _ in range(n_stmts):
            parts.append(_gen_statement(rng, stmt_no, with_errors))
            stmt_no += 1
        role = _ROLES[turn_idx % 3]
        tool = _TOOLS[rng.randint(0, len(_TOOLS) - 1)] if role == "tool" else None
        ts = _EPOCH + timedelta(days=conv_idx % 365, minutes=turn_idx)
        yield (conv_id, turn_idx, role, "\n".join(parts), tool, ts)


def gen_local(n_convs: int, seed: int = 42, **kw) -> list[tuple]:
    """Driver-side corpus (tests, small scale)."""
    rows = []
    for c in range(n_convs):
        rows.extend(conv_turns(c, seed=seed, **kw))
    return rows


def transcripts_df(spark, n_convs: int, seed: int = 42,
                   mega_every: int = 128, mega_factor: int = 100,
                   with_errors: bool = False, partitions: int | None = None):
    """Distributed corpus: spark.range over conv indices → mapInPandas.

    Generation is per-conversation pure, so the corpus is identical at
    any parallelism (the property the N vs 4N scaling run needs).
    """
    import pandas as pd

    parts = partitions or max(32, n_convs // 2048)
    rng_args = dict(seed=seed, mega_every=mega_every,
                    mega_factor=mega_factor, with_errors=with_errors)

    def gen(batches):
        for pdf in batches:
            rows = []
            for conv_idx in pdf["id"]:
                rows.extend(conv_turns(int(conv_idx), **rng_args))
            yield pd.DataFrame(
                rows, columns=["conv_id", "turn_idx", "role", "text",
                               "tool", "ts"])

    return (
        spark.range(0, n_convs, numPartitions=parts)
        .mapInPandas(gen, schema=TRANSCRIPT_SCHEMA)
    )
