"""Parse stages: transcripts DataFrame → triples DataFrame.

Two passes, both Arrow-batched (no per-row Python UDFs).
``parse_documents`` picks one by syntax, as serd's
``serd_reader_start`` picks a reader (SURVEY.md O-3); ``KGPipeline``
calls the same two.

1. ``parse_documents_colocated`` — Turtle/TriG: one
   ``repartition(defaultParallelism, conv_id)`` puts each conversation
   whole in one partition, then one ``mapInArrow`` cuts it into
   bounded chunks at turn boundaries and carries the parser's Env
   forward from chunk to chunk.  The width is pinned to one partition
   per core because the parse is the job's only Python stage and its
   shuffle is small: a plain ``repartition(conv_id)`` is coalesced by
   AQE, under the session's 1 MB ``minPartitionSize`` floor, into one
   task, which leaves every other core idle.

2. ``parse_ntriples_lines`` — NTriples/NQuads: line-based, so the
   stage is a shuffle-free explode + mapInPandas; the embarrassingly
   parallel syntax (SURVEY.md O-7).

Output schema is shared: triple rows plus quarantined error rows
(``err`` non-null), serd's lax semantics (O-17) — bad input never
fails the job.  Strict mode (``lax=False``) keeps each conversation up
to and including its first error row (:func:`_cut_at_first_error`).

``_rows_for_doc`` and ``fold_patches`` parse one chunk in isolation on
the driver; they are the kernels of the pass's reference checks.
"""

from __future__ import annotations

import json
import re
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..chars import PN_CHARS_CLS, PN_CHARS_U_CLS
from ..env import Env
from ..ntriples import NTParseError, parse_nt_line
from ..escapes import EscapeError
from ..turtle import TurtleParser

# Unified output of every parse stage: triples + quarantined errors.
PARSED_SCHEMA = (
    "conv_id string, stmt_idx long, g string, s string, s_type int, "
    "p string, o string, o_type int, o_datatype string, o_lang string, "
    "err string"
)

DEFAULT_BASE_TEMPLATE = "http://transcripts.example/{conv_id}"

_COLS = ["conv_id", "stmt_idx", "g", "s", "s_type", "p", "o", "o_type",
         "o_datatype", "o_lang", "err"]


def locate_cursor(
    pos: int, text: str, turn_lens: list[tuple[int, int]]
) -> tuple[int, int, int]:
    """Map a char offset in a '\\n'-joined document back to
    ``(turn_idx, line, col)`` — line/col 1-based *within the turn*.

    The reference tracks a full ``(file, line, col)`` error cursor
    (src/byte_source.h:14-18); for transcripts the file coordinate is
    the turn, so a syntax error in turn k of a multi-turn conversation
    must report turn k, not a flat char offset into the joined text.

    ``turn_lens`` is ``[(turn_idx, len(turn_text)), ...]`` in document
    order; turns are joined by a single '\\n'.
    """
    pos = min(max(pos, 0), len(text))
    start = 0
    turn_idx = turn_lens[0][0] if turn_lens else 0
    for t_idx, ln in turn_lens:
        turn_idx = t_idx
        if pos <= start + ln:
            break
        start = start + ln + 1  # +1 for the '\n' joiner
    nl = text.rfind("\n", start, pos)
    line = text.count("\n", start, pos) + 1
    col = pos - nl if nl >= 0 else pos - start + 1
    return turn_idx, line, col


def _format_err(
    pos: int, msg: str, text: str,
    turn_lens: Optional[list[tuple[int, int]]],
) -> str:
    if turn_lens:
        turn_idx, line, col = locate_cursor(pos, text, turn_lens)
        return f"turn {turn_idx}, line {line}, col {col}: {msg}"
    return f"pos {pos}: {msg}"


def _rows_for_doc(
    conv_id: str,
    text: str,
    base_uri: str,
    syntax: str,
    lax: bool,
    init_prefixes: Optional[dict] = None,
    init_base: Optional[str] = None,
    blank_offset: int = 0,
    stmt_offset: int = 0,
    turn_lens: Optional[list[tuple[int, int]]] = None,
) -> list[tuple]:
    parser = TurtleParser(
        text,
        base_uri=init_base if init_base else base_uri,
        blank_prefix=f"{conv_id}-",
        trig=(syntax == "trig"),
        lax=lax,
        init_prefixes=init_prefixes,
        blank_offset=blank_offset,
    )
    triples, errors = parser.parse()
    rows = [
        (conv_id, stmt_offset + i, t.g, t.s, t.s_type, t.p, t.o, t.o_type,
         t.o_datatype, t.o_lang, None)
        for i, t in enumerate(triples)
    ]
    n_triples = len(rows)
    rows.extend(
        (conv_id, stmt_offset + n_triples + j, None, None, None, None, None,
         None, None, None, _format_err(pos, msg, text, turn_lens))
        for j, (pos, msg) in enumerate(errors)
    )
    return rows


def fold_patches(patches: list[tuple[int, str]], upto_chunk: int,
                 base_uri: str) -> Env:
    """Fold directive patches of chunks < upto_chunk, in order.

    Driver-side: a chunk's Env as the single pass carries it, rebuilt
    from earlier chunks' ``scan_directives`` lists (JSON-encoded).  The
    benchmark reference and the parse tests use it with
    :func:`_rows_for_doc` to parse one chunk in isolation."""
    env = Env(base_uri)
    for chunk_idx, patch_json in sorted(patches, key=lambda x: x[0]):
        if chunk_idx >= upto_chunk or not patch_json:
            continue
        for kind, name, raw in json.loads(patch_json):
            if kind == "base":
                env.set_base_uri(raw)
            else:
                env.set_prefix(name, raw)
    return env


def parse_documents(
    transcripts: DataFrame,
    syntax: str = "turtle",
    lax: bool = True,
    base_template: str = DEFAULT_BASE_TEMPLATE,
) -> DataFrame:
    """Parse transcripts with the pass their syntax calls for
    (reference: serd O-3, ``serd_reader_start`` picks the reader by
    syntax).

    Turtle/TriG keep Env state across a conversation's turns, so they
    run :func:`parse_documents_colocated` behind one
    ``repartition(defaultParallelism, conv_id)``: one Exchange, no
    Spark job while the plan is built, nothing persisted.
    ``ntriples``/``nquads`` are LINE grammars with no cross-line
    state, so they route to
    :func:`parse_ntriples_lines` — the shuffle-free vectorized path —
    which also handles NQ graph labels the Turtle grammar has no
    production for.  (NT statement indices are the deterministic
    ``(turn_idx << 20) | line_no``; Turtle ones are
    ``(chunk_idx << 40) + position``; both orderings are stable.)

    The line grammars REQUIRE absolute IRIs (no @base production in
    NT/NQ), so a caller-supplied ``base_template`` cannot affect
    resolution on this path — a non-default value is rejected rather
    than silently ignored (it would signal the caller expected the
    Turtle path's per-conversation base behavior)."""
    if syntax in ("ntriples", "nquads"):
        if base_template != DEFAULT_BASE_TEMPLATE:
            raise ValueError(
                f"base_template is not supported for syntax={syntax!r}:"
                " the NT/NQ line grammars have no relative-IRI"
                " production to resolve against it")
        return parse_ntriples_lines(
            transcripts, nquads=(syntax == "nquads"), lax=lax)
    return parse_documents_colocated(
        transcripts, syntax=syntax, lax=lax, base_template=base_template)


def _cut_at_first_error(parsed: DataFrame) -> DataFrame:
    """Strict mode (serd O-17): the reader stops a document at its
    FIRST error — triples before it stand, everything after (later
    triples AND later errors) drops.

    Every pass numbers a conversation's rows in document order: NT/NQ
    by ``(turn << 20) | line``, Turtle by ``(chunk << 40) + position``
    with a chunk's error rows after its triples, and a strict chunk
    stops at its first error.  A chunk boundary is a resync point, so
    the chunks after a conversation's first error still parse; this
    cut is what stops them.  It is a per-conv min over the error rows
    (error-bounded, tiny in the strict/validated regime) joined back
    against the parse.  No broadcast() hint: AQE broadcasts the tiny
    error set on the happy path anyway, while an adversarial
    mostly-broken corpus (conv-cardinality error table) degrades to a
    shuffle join instead of OOMing the driver.  The parse plan feeds
    both branches; strict is the validation path, where the extra
    evaluation is the price of failing precisely."""
    first_err = (parsed.where(F.col("err").isNotNull())
                 .groupBy("conv_id")
                 .agg(F.min("stmt_idx").alias("_fe")))
    return (parsed.join(first_err, "conv_id", "left")
            .where(F.col("_fe").isNull()
                   | (F.col("stmt_idx") <= F.col("_fe")))
            .drop("_fe"))


# ---- Turtle / TriG pass ----


def colocate(transcripts: DataFrame) -> DataFrame:
    """Each conversation whole in one of ``defaultParallelism``
    partitions, in turn order: the Turtle pass's one Exchange and its
    local sort.  A plan that colocates its input the same way before
    :func:`parse_documents_colocated` shares them: Spark plans the
    Exchange and the sort once."""
    width = transcripts.sparkSession.sparkContext.defaultParallelism
    return (transcripts.repartition(width, "conv_id")
            .sortWithinPartitions("conv_id", "turn_idx"))


def parse_documents_colocated(
    transcripts: DataFrame,
    chunk_turns: int = 64,
    syntax: str = "turtle",
    lax: bool = True,
    base_template: str = DEFAULT_BASE_TEMPLATE,
) -> DataFrame:
    """The Turtle/TriG pass: ``repartition(defaultParallelism,
    conv_id)`` (one Exchange) puts each conversation whole in one
    partition, then
    ``sortWithinPartitions`` (local sort) → one ``mapInArrow`` that
    streams turns, cuts bounded chunks at turn boundaries, and
    *carries the parser's Env forward sequentially* between a
    conversation's chunks (serd's single-pass semantics — no directive
    scan, no patch broadcast).  Building the plan starts no Spark job.

    Chunk ``k`` of a conversation holds turns ``[k*chunk_turns,
    (k+1)*chunk_turns)``; its blank ids are offset by ``k << 32`` and
    its stmt indices by ``k << 40``, so every id is a pure function of
    (conv, chunk, position) and retries are safe.  A chunk boundary is
    a lax resync point.  Memory stays bounded by ``chunk_turns``
    regardless of conversation length (mega-conversations parse as a
    sequence of chunks in one task).

    The Exchange's width is the session's ``defaultParallelism`` (its
    core count), as ``util.spread`` sizes its round-robin.  A
    partition count set by the plan is a ``REPARTITION_BY_NUM``, which
    AQE does not coalesce; a plain ``repartition(conv_id)`` is
    coalesced to one task on a sub-megabyte corpus, so the job's only
    Python stage would run on one core.  One partition per core, not
    ``spark.sql.shuffle.partitions``: each Python task has a fixed
    start cost, and on a 4-core box 16 partitions parsed slower than
    4.  Cut points do not depend on the width (chunks are cut by
    absolute ``turn_idx``), so neither do the rows.

    Arrow-direct (``mapInArrow`` + RecordBatch.from_arrays): building
    pandas frames from row tuples measured ~10µs/row — 4.4× slower
    than pyarrow column construction, and the frame is immediately
    re-serialized to Arrow anyway.
    """
    import pyarrow as pa

    src = colocate(transcripts.select("conv_id", "turn_idx", "text"))

    pa_schema = pa.schema([
        ("conv_id", pa.string()), ("stmt_idx", pa.int64()),
        ("g", pa.string()), ("s", pa.string()), ("s_type", pa.int32()),
        ("p", pa.string()), ("o", pa.string()), ("o_type", pa.int32()),
        ("o_datatype", pa.string()), ("o_lang", pa.string()),
        ("err", pa.string()),
    ])

    def new_cols() -> list[list]:
        # conv_id, stmt_idx, g, s, s_type, p, o, o_type, o_datatype,
        # o_lang, err — one list per output field (columnar end to
        # end: TurtleParser(collect_columns=True) emits the middle 8
        # directly, so no Triple NamedTuples, row tuples, or
        # zip(*rows) transpose anywhere on the hot path)
        return [[] for _ in range(11)]

    def to_batch(cols: list[list]):
        return pa.RecordBatch.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, pa_schema)],
            schema=pa_schema)

    def parse_part(batches) -> Iterator["pa.RecordBatch"]:
        cur_conv: Optional[str] = None
        cur_texts: list[tuple] = []

        def flush_conv(conv_id: str, turns: list[tuple],
                       out: list[list]) -> None:
            base = base_template.format(conv_id=conv_id)
            # chunk by absolute turn_idx: cut points, and so ids, do
            # not depend on how the partition's batches fall
            by_chunk: dict[int, list[tuple[int, str]]] = {}
            for turn_idx, text in turns:
                by_chunk.setdefault(int(turn_idx) // chunk_turns,
                                    []).append((int(turn_idx), text))
            env: Optional[Env] = None
            for chunk_idx in sorted(by_chunk):
                chunk = by_chunk[chunk_idx]
                text = "\n".join(t for _, t in chunk)
                turn_lens = [(ti, len(t)) for ti, t in chunk]
                parser = TurtleParser(
                    text,
                    base_uri=env.base_uri if env else base,
                    blank_prefix=f"{conv_id}-",
                    trig=(syntax == "trig"),
                    lax=lax,
                    init_prefixes=env.prefixes if env else None,
                    blank_offset=chunk_idx << 32,
                    collect_columns=True,
                )
                parser.parse()
                env = parser.env  # sequential Env carry to next chunk
                stmt_offset = chunk_idx << 40
                tcols, errors = parser.cols, parser.errors
                n_t = len(tcols[0])
                n_e = len(errors)
                out[0].extend([conv_id] * (n_t + n_e))
                out[1].extend(range(stmt_offset, stmt_offset + n_t + n_e))
                for oc, tc in zip(out[2:10], tcols):
                    oc.extend(tc)
                    if n_e:
                        oc.extend([None] * n_e)
                out[10].extend([None] * n_t)
                out[10].extend(
                    _format_err(pos, msg, text, turn_lens)
                    for pos, msg in errors)

        for rb in batches:
            idx = rb.schema.get_field_index
            convs = rb.column(idx("conv_id")).to_pylist()
            turns = rb.column(idx("turn_idx")).to_pylist()
            texts = rb.column(idx("text")).to_pylist()
            out = new_cols()
            for conv_id, turn_idx, text in zip(convs, turns, texts):
                if conv_id != cur_conv:
                    if cur_conv is not None:
                        flush_conv(cur_conv, cur_texts, out)
                    cur_conv, cur_texts = conv_id, []
                cur_texts.append((turn_idx, text))
            if out[0]:
                yield to_batch(out)
        if cur_conv is not None:
            out = new_cols()
            flush_conv(cur_conv, cur_texts, out)
            if out[0]:
                yield to_batch(out)

    parsed = src.mapInArrow(parse_part, schema=PARSED_SCHEMA)
    return parsed if lax else _cut_at_first_error(parsed)


# ---- NTriples / NQuads line path ----


# Fast-path validators (vectorized over a pandas batch).  A candidate
# line qualifies only if it has no '\' at all, so no unescaping is
# needed and the strict charset regexes are exact.
_ABS_IRI_PREFIX_RE = re.compile(r"[A-Za-z][A-Za-z0-9+.\-]*:")
_BLANK_LABEL_STRICT_RE = re.compile(
    f"[{PN_CHARS_U_CLS}0-9](?:[{PN_CHARS_CLS}.]*[{PN_CHARS_CLS}])?\\Z")


def parse_ntriples_lines(
    transcripts: DataFrame,
    nquads: bool = True,
    lax: bool = True,
    salt_blanks: bool = True,
) -> DataFrame:
    """Shuffle-free NT/NQ parse: split turns into lines, Arrow-batch
    them through the line parser.  Statement index = (turn_idx, line
    position), deterministic without any global counter.

    Two tiers per batch (SURVEY O-7 calls NT the parallel-friendly
    syntax, and this is why): escape-free lines — the overwhelming
    majority of real NT — go through one vectorized
    ``Series.str.extract`` against the whole-line grammar regex plus
    vectorized IRI/label validation; only lines containing ``\\`` (or
    failing validation, which need a precise error) fall back to the
    per-line parser.
    """
    import numpy as np

    from ..nodes import BLANK, LITERAL, URI

    lines = transcripts.select(
        "conv_id",
        "turn_idx",
        F.posexplode(F.split(F.col("text"), "\n")).alias("line_no", "line"),
    ).where(F.trim(F.col("line")) != "")

    from ..ntriples import _COMMENT_RE, _LINE_RE

    def slow_rows(pdf: pd.DataFrame) -> list[tuple]:
        out: list[tuple] = []
        for r in pdf.itertuples(index=False):
            stmt_idx = (int(r.turn_idx) << 20) | int(r.line_no)
            prefix = f"{r.conv_id}-" if salt_blanks else ""
            try:
                t = parse_nt_line(r.line, blank_prefix=prefix,
                                  nquads=nquads)
            except (NTParseError, EscapeError) as e:
                out.append((r.conv_id, stmt_idx, None, None, None, None,
                            None, None, None, None,
                            f"turn {int(r.turn_idx)}, "
                            f"line {int(r.line_no) + 1}: {e}"))
                continue
            if t is None:
                continue
            out.append((r.conv_id, stmt_idx, t.g, t.s, t.s_type, t.p,
                        t.o, t.o_type, t.o_datatype, t.o_lang, None))
        return out

    def parse_part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame([], columns=_COLS)
                continue
            ln = pdf["line"]
            is_comment = ln.str.match(_COMMENT_RE)
            ext = ln.str.extract(_LINE_RE)
            # group order mirrors parse_nt_line: s_iri s_blank p o_iri
            # o_blank o_lit o_dt o_lang g_iri g_blank
            (s_iri, s_blank, p_iri, o_iri, o_blank, o_lit, o_dt,
             o_lang, g_iri, g_blank) = (ext[i] for i in range(10))

            def abs_ok(col):
                return col.isna() | col.str.match(_ABS_IRI_PREFIX_RE,
                                                  na=False)

            def label_ok(col):
                return col.isna() | col.str.match(_BLANK_LABEL_STRICT_RE,
                                                  na=False)

            fast = (
                s_iri.notna() | s_blank.notna()  # any regex match at all
            ) & ~ln.str.contains("\\", regex=False) \
                & abs_ok(s_iri) & label_ok(s_blank) \
                & p_iri.str.match(_ABS_IRI_PREFIX_RE, na=False) \
                & abs_ok(o_iri) & label_ok(o_blank) & abs_ok(o_dt)
            if nquads:
                fast &= abs_ok(g_iri) & label_ok(g_blank)
            else:
                fast &= g_iri.isna() & g_blank.isna()

            fidx = fast[fast].index
            fpdf = pdf.loc[fidx]
            prefix = (fpdf["conv_id"].astype(str) + "-") if salt_blanks \
                else pd.Series("", index=fidx)
            si, sb = s_iri.loc[fidx], s_blank.loc[fidx]
            oi, ob, ol = (o_iri.loc[fidx], o_blank.loc[fidx],
                          o_lit.loc[fidx])
            gi, gb = g_iri.loc[fidx], g_blank.loc[fidx]
            s_is_iri = si.notna()
            fast_df = pd.DataFrame({
                "conv_id": fpdf["conv_id"],
                "stmt_idx": (fpdf["turn_idx"].astype("int64") * (1 << 20)
                             + fpdf["line_no"].astype("int64")),
                "g": np.select([gi.notna(), gb.notna()],
                               [gi, "_:" + prefix + gb], default=None),
                "s": si.where(s_is_iri, prefix + sb),
                "s_type": np.where(s_is_iri, URI, BLANK).astype("int32"),
                "p": p_iri.loc[fidx],
                "o": np.select([oi.notna(), ob.notna()],
                               [oi, prefix + ob], default=ol),
                "o_type": np.select(
                    [oi.notna(), ob.notna()], [URI, BLANK],
                    default=LITERAL).astype("int32"),
                "o_datatype": o_dt.loc[fidx],
                "o_lang": o_lang.loc[fidx],
                "err": None,
            }, index=fidx)

            rest = pdf.loc[~fast & ~is_comment]
            if len(rest):
                rest_df = pd.DataFrame(slow_rows(rest), columns=_COLS)
                yield pd.concat([fast_df, rest_df], ignore_index=True)
            else:
                yield fast_df

    parsed = lines.mapInPandas(parse_part, schema=PARSED_SCHEMA)
    return parsed if lax else _cut_at_first_error(parsed)


def split_quarantine(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(triples, errors) — serd's lax semantics as a filter pair."""
    triples = parsed.where("err IS NULL").drop("err")
    errors = parsed.where("err IS NOT NULL").selectExpr(
        "conv_id", "stmt_idx AS err_idx", "err")
    return triples, errors
