"""Character classes from the W3C Turtle/NTriples grammars.

Clean-room from the public W3C Turtle 1.1 EBNF (§6.5 "Grammar").
Behavioral parity target: the reference's classification tables
(/root/reference/src/turtle.h, src/ntriples.h, src/string_utils.h) —
which implement the same public grammar.
"""

from __future__ import annotations

_PN_CHARS_BASE_RANGES = (
    (0x41, 0x5A), (0x61, 0x7A), (0xC0, 0xD6), (0xD8, 0xF6),
    (0xF8, 0x2FF), (0x370, 0x37D), (0x37F, 0x1FFF), (0x200C, 0x200D),
    (0x2070, 0x218F), (0x2C00, 0x2FEF), (0x3001, 0xD7FF),
    (0xF900, 0xFDCF), (0xFDF0, 0xFFFD), (0x10000, 0xEFFFF),
)

_PN_CHARS_EXTRA_RANGES = ((0x300, 0x36F), (0x203F, 0x2040))


_pn_base_cache: dict = {}


def is_pn_chars_base(ch: str) -> bool:
    v = _pn_base_cache.get(ch)
    if v is None:
        c = ord(ch)
        v = any(lo <= c <= hi for lo, hi in _PN_CHARS_BASE_RANGES)
        _pn_base_cache[ch] = v
    return v


def is_pn_chars_u(ch: str) -> bool:
    return ch == "_" or is_pn_chars_base(ch)


_pn_chars_cache: dict = {}


def is_pn_chars(ch: str) -> bool:
    v = _pn_chars_cache.get(ch)
    if v is not None:
        return v
    if is_pn_chars_u(ch) or ch == "-" or ch.isdigit() and ch.isascii():
        v = True
    else:
        c = ord(ch)
        v = (c == 0xB7
             or any(lo <= c <= hi for lo, hi in _PN_CHARS_EXTRA_RANGES))
    _pn_chars_cache[ch] = v
    return v


def is_digit(ch: str) -> bool:
    return "0" <= ch <= "9"


def is_hex(ch: str) -> bool:
    return ("0" <= ch <= "9") or ("A" <= ch <= "F") or ("a" <= ch <= "f")


# Characters that may not appear raw inside an IRIREF (<...>):
# control chars and the explicit exclusion set from IRIREF production.
IRI_FORBIDDEN = set('<>"{}|^`\\ ')


def iri_char_ok(ch: str) -> bool:
    return ord(ch) > 0x20 and ch not in IRI_FORBIDDEN


# PN_LOCAL_ESC set (Turtle §6.5, production 172s).
PN_LOCAL_ESC = set("_~.-!$&'()*+,;=/?#@%")


def decode_rdf_text(data, lax: bool):
    """UTF-8 decode with the reference reader's semantics
    (/root/reference/src/read_utf8.c:15-89): strict mode errors at the
    first invalid sequence; lax mode substitutes U+FFFD and continues.

    Returns ``(text, error)`` where error is ``(line_no, message)`` or
    None; in strict mode ``text`` is the valid prefix before the bad
    byte (the reader aborts there, like serd's strict reader).
    """
    if isinstance(data, str):
        return data, None
    data = bytes(data)
    try:
        return data.decode("utf-8"), None
    except UnicodeDecodeError as e:
        if lax:
            return lax_utf8_decode(data), None
        line = data[: e.start].count(b"\n") + 1
        prefix = data[: e.start].decode("utf-8", errors="replace")
        return prefix, (line, f"bad UTF-8 byte 0x{data[e.start]:X}")


def _utf8_num_bytes(lead: int) -> int:
    if lead < 0x80:
        return 1
    if (lead & 0xE0) == 0xC0:
        return 2
    if (lead & 0xF0) == 0xE0:
        return 3
    if (lead & 0xF8) == 0xF0:
        return 4
    return 0


def lax_utf8_decode(data: bytes) -> str:
    """Serd's lax UTF-8 repair (read_utf8.c read_utf8_continuation):
    one U+FFFD per failed *sequence attempt* — the bad lead byte plus
    any continuation bytes consumed before the failure — not Python's
    one-per-maximal-subpart.  A non-continuation byte that ends an
    attempt is NOT consumed (the reader only peeked at it)."""
    out: list[str] = []
    i, n = 0, len(data)
    while i < n:
        lead = data[i]
        if lead < 0x80:
            out.append(chr(lead))
            i += 1
            continue
        size = _utf8_num_bytes(lead)
        if size == 0:
            out.append("�")
            i += 1
            continue
        j = i + 1
        ok = True
        while j < i + size:
            if j >= n or (data[j] & 0xC0) != 0x80:
                ok = False
                break
            j += 1
        if not ok:
            out.append("�")
            i = j  # lead + consumed continuations; terminator stays
            continue
        try:
            out.append(data[i:j].decode("utf-8"))
        except UnicodeDecodeError:
            # structurally complete but semantically invalid
            # (overlong/surrogate/out-of-range): serd passes the raw
            # bytes through; closest str equivalent is the code point.
            # Surrogates become U+FFFD — a lone surrogate in a Python
            # str crashes any later plain-UTF-8 encode (sinks, Spark
            # string columns), defeating the repair.
            code = lead & (0x7F >> size)
            for k in range(i + 1, j):
                code = (code << 6) | (data[k] & 0x3F)
            if code > 0x10FFFF or 0xD800 <= code <= 0xDFFF:
                out.append("�")
            else:
                out.append(chr(code))
        i = j
    return "".join(out)


# ---- compiled regex character classes (same range tables) ----

def _cls(ranges, extra=""):
    out = []
    for lo, hi in ranges:
        out.append(re.escape(chr(lo)) if lo == hi
                   else re.escape(chr(lo)) + "-" + re.escape(chr(hi)))
    return "".join(out) + extra


import re  # noqa: E402  (kept local to the class-table block)

PN_CHARS_BASE_CLS = _cls(_PN_CHARS_BASE_RANGES)
PN_CHARS_U_CLS = PN_CHARS_BASE_CLS + "_"
PN_CHARS_CLS = (PN_CHARS_U_CLS + r"\-0-9" + re.escape(chr(0xB7))
                + _cls(_PN_CHARS_EXTRA_RANGES))
