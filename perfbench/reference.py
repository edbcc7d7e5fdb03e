"""Driver-side reference for the pipeline's output, computed in plain
Python from the same generated conversations.

It mirrors the documented semantics of ``KGPipeline`` with defaults:
chunks of ``chunk_turns`` turns per conversation, each chunk parsed
with the Env folded from earlier chunks' directive patches and blank
ids offset by ``chunk_idx << 32``; errors quarantined; exact dedup on
the quad key; one canonical NQuads line per quad, sorted on
``SORT_KEY`` with nulls first.  It reuses the engine's single-document
kernels (``_rows_for_doc``, ``fold_patches``, ``fast_scan_directives``)
but none of its Spark plumbing — chunk assembly, the broadcast patch
join, quarantine split, dedup, range sort and write are what it
checks.
"""

from __future__ import annotations

import hashlib
import json
import os

from serd_spark.nodes import BLANK, URI


def turtle_reference(convs: list[list[tuple]], chunk_turns: int = 64
                     ) -> tuple[list[tuple], int]:
    """(triple rows, number of quarantined error rows)."""
    from serd_spark.operators.parse import (
        DEFAULT_BASE_TEMPLATE,
        _rows_for_doc,
        fold_patches,
    )
    from serd_spark.scan import fast_scan_directives

    triples: list[tuple] = []
    n_err = 0
    for conv in convs:
        conv_id = conv[0][0]
        base = DEFAULT_BASE_TEMPLATE.format(conv_id=conv_id)
        chunks: dict[int, list[tuple]] = {}
        for r in sorted(conv, key=lambda r: r[1]):
            chunks.setdefault(r[1] // chunk_turns, []).append(r)
        texts = {ci: "\n".join(r[3] for r in rs)
                 for ci, rs in chunks.items()}
        patches = []
        for ci, text in texts.items():
            low = text.lower()
            if "prefix" in low or "base" in low:
                p = fast_scan_directives(text)
                if p:
                    patches.append((ci, json.dumps(p)))
        for ci, rs in sorted(chunks.items()):
            env = fold_patches(patches, ci, base)
            rows = _rows_for_doc(
                conv_id, texts[ci], base, "turtle", True,
                init_prefixes=env.prefixes, init_base=env.base_uri,
                blank_offset=ci << 32, stmt_offset=ci << 40,
                turn_lens=[(r[1], len(r[3])) for r in rs])
            for row in rows:
                if row[10] is None:
                    triples.append(row[:10])
                else:
                    n_err += 1
    return triples, n_err


def _escape(v: str) -> str:
    return (v.replace("\\", "\\\\").replace('"', '\\"')
            .replace("\n", "\\n").replace("\r", "\\r")
            .replace("\t", "\\t"))


def _term(value: str, type_: int, datatype, lang) -> str:
    if type_ == URI:
        return f"<{value}>"
    if type_ == BLANK:
        return f"_:{value}"
    body = f'"{_escape(value)}"'
    if lang is not None:
        return f"{body}@{lang}"
    if datatype is not None:
        return f"{body}^^<{datatype}>"
    return body


def nquads_lines(triples: list[tuple]) -> list[str]:
    """Deduplicated, sorted canonical NQuads lines of triple rows
    ``(conv_id, stmt_idx, g, s, s_type, p, o, o_type, o_datatype,
    o_lang)``."""
    quads = {t[2:] for t in triples}

    def key(q):
        g, s, _st, p, o, ot, dt, lang = q
        return tuple((0, "") if v is None else (1, v)
                     for v in (g, s, p, o, ot, dt, lang))

    out = []
    for q in sorted(quads, key=key):
        g, s, st, p, o, ot, dt, lang = q
        if g is None:
            gs = ""
        elif g.startswith("_:"):
            gs = f" {g}"
        else:
            gs = f" <{g}>"
        out.append(f"{_term(s, st, None, None)} <{p}> "
                   f"{_term(o, ot, dt, lang)}{gs} .")
    return out


def lines_digest(lines) -> tuple[int, str]:
    h = hashlib.sha256()
    n = 0
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
        n += 1
    return n, h.hexdigest()[:32]


def written_nquads(path: str):
    """The ``line`` column of a written NQuads dataset, part files in
    name order (the range sort orders files by partition index)."""
    import pyarrow.parquet as pq

    for name in sorted(os.listdir(path)):
        if name.startswith("part-") and name.endswith(".parquet"):
            yield from pq.read_table(os.path.join(path, name),
                                     columns=["line"]).column(0)\
                .to_pylist()
