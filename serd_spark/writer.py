"""Canonical NTriples/NQuads line formatting (O-24/O-25) and triple
sorting keys.

Parity target: the reference's NTriples fast path
(/root/reference/src/writer.c:1072-1085) and escape tables
(writer.c:488-544).  The Spark-side sorted materialization lives in
``operators/materialize.py``; these pure functions format one term /
one statement and are applied vectorized over pandas columns.
"""

from __future__ import annotations

from typing import Optional

from .escapes import (escape_iri, escape_iri_ascii, escape_literal,
                      escape_literal_ascii)
from .nodes import BLANK, LITERAL, URI, Triple


def format_term(value: str, type_: int,
                datatype: Optional[str] = None,
                lang: Optional[str] = None,
                ascii_: bool = False) -> str:
    esc_iri = escape_iri_ascii if ascii_ else escape_iri
    esc_lit = escape_literal_ascii if ascii_ else escape_literal
    if type_ == URI:
        return f"<{esc_iri(value)}>"
    if type_ == BLANK:
        return f"_:{value}"
    if type_ == LITERAL:
        body = f'"{esc_lit(value)}"'
        if lang:
            return f"{body}@{lang}"
        if datatype:
            return f"{body}^^<{esc_iri(datatype)}>"
        return body
    raise ValueError(f"cannot write node type {type_}")


def format_statement(t: Triple, ascii_: bool = False) -> str:
    """One canonical NQuads line (graph omitted when None).

    ``ascii_=True`` matches serdi's NTriples/NQuads output style
    byte-for-byte (SERD_STYLE_ASCII is implied for those syntaxes,
    src/serdi.c:151-153)."""
    esc_iri = escape_iri_ascii if ascii_ else escape_iri
    parts = [
        format_term(t.s, t.s_type, ascii_=ascii_),
        format_term(t.p, URI, ascii_=ascii_),
        format_term(t.o, t.o_type, t.o_datatype, t.o_lang, ascii_=ascii_),
    ]
    if t.g is not None:
        parts.append(f"<{esc_iri(t.g)}>" if not t.g.startswith("_:")
                     else t.g)
    return " ".join(parts) + " ."
