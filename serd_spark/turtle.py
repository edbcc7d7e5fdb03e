"""Recursive-descent Turtle/TriG parser (per-document, pure Python).

Clean-room implementation of the public W3C Turtle 1.1 / TriG 1.1
grammars.  Behavioral parity targets in the reference (studied, not
copied): grammar loop /root/reference/src/n3.c:1569-1583, directive
handling n3.c:1305-1395, number lexing n3.c:700-758 (incl. the
trailing-dot-before-statement-end backtrack), blank-label clash rule
n3.c:885-898 ('b<digit>…' user labels → 'B…' so generated ids never
collide), genid format '{prefix}b{n}' src/reader.c:44-65, lax-mode
skip-to-newline recovery n3.c:1554-1567, collection desugaring
n3.c:1165-1227.

This parser runs *inside* an Arrow-batched pandas UDF over whole
documents (one conversation = one document); Spark-side plumbing is in
``operators/parse.py``.  Per-document imperative parsing is inherent to
the grammar (context-sensitive prefixes); the vectorization boundary is
the document batch, exactly like the reference's statement stream.
"""

from __future__ import annotations

import re
from typing import Optional

from .chars import (
    PN_LOCAL_ESC,
    decode_rdf_text,
    is_digit,
    is_hex,
    is_pn_chars,
    is_pn_chars_base,
    is_pn_chars_u,
    iri_char_ok,
)
from .env import CurieError, Env
from .escapes import ECHAR_MAP, EscapeError, decode_uchar
from .nodes import (
    BLANK,
    LITERAL,
    RDF_FIRST,
    RDF_NIL,
    RDF_REST,
    RDF_TYPE,
    URI,
    XSD_BOOLEAN,
    XSD_DECIMAL,
    XSD_DOUBLE,
    XSD_INTEGER,
    Node,
    Triple,
)


class ParseError(Exception):
    def __init__(self, message: str, pos: int):
        super().__init__(message)
        self.pos = pos


_EOF = ""

# ---- compiled fast paths (hot-loop shortcuts; every one falls back
# to the character scanner on a non-match, so grammar behavior is
# bit-identical — the W3C suites gate this) ----

from .chars import PN_CHARS_BASE_CLS, PN_CHARS_CLS, PN_CHARS_U_CLS

_WS_RE = re.compile(r"(?:[ \t\r\n]+|#[^\n\r]*)+")
_IRIREF_FAST_RE = re.compile(r'<([^\x00-\x20<>"{}|^`\\]*)>')
_PN_PREFIX_RE = re.compile(
    f"[{PN_CHARS_BASE_CLS}](?:[{PN_CHARS_CLS}.]*[{PN_CHARS_CLS}])?")
_PN_LOCAL_FAST_RE = re.compile(
    f"[{PN_CHARS_U_CLS}0-9:](?:[{PN_CHARS_CLS}.:]*[{PN_CHARS_CLS}:])?")
# A dot-run leading into a PLX starter ('%' or '\\') means the fast match
# stopped short (dots are valid mid-name when followed by PLX) — slow path.
_DOTS_THEN_PLX_RE = re.compile(r"\.+[%\\]")
_LANGTAG_RE = re.compile(r"[A-Za-z]+(?:-[A-Za-z0-9]+)*")
_SHORT_STR_RE = {
    '"': re.compile(r'"([^"\\\n\r]*)"'),
    "'": re.compile(r"'([^'\\\n\r]*)'"),
}


class TurtleParser:
    """One-shot parser: ``TurtleParser(text, ...).parse()`` →
    (triples, errors).  ``errors`` is a list of (pos, message)."""

    def __init__(
        self,
        text: str,
        base_uri: str = "",
        blank_prefix: str = "",
        trig: bool = False,
        lax: bool = False,
        default_graph: Optional[str] = None,
        init_prefixes: Optional[dict[str, str]] = None,
        blank_offset: int = 0,
        scan_only: bool = False,
        collect_columns: bool = False,
    ):
        """``init_prefixes``/``base_uri`` seed the Env (the Turtle pass
        seeds chunk k with the Env chunk k-1 ended with).

        ``blank_offset`` offsets generated blank ids so chunk k of a
        split document can't collide with chunk j — genids stay a pure
        function of (conv, chunk, position), never a shared counter.

        ``scan_only`` runs the full grammar but suppresses emission and
        tolerates unknown prefixes; it exists to extract the in-order
        directive patch list (``self.directives``) from a chunk without
        knowing the upstream Env yet.

        ``collect_columns`` switches emission to eight parallel column
        lists (``self.cols``: g, s, s_type, p, o, o_type, o_datatype,
        o_lang) instead of ``Triple`` rows — the Arrow fast path:
        downstream batch building goes straight to
        ``pyarrow.array(list)`` with no per-triple NamedTuple, no row
        tuple, and no transpose (measured ~12% end-to-end).
        ``parse()`` then returns an EMPTY triples list; read
        ``self.cols``.
        """
        # Strip a leading UTF-8 BOM (byte-source parity).
        if text.startswith("﻿"):
            text = text[1:]
        self.s = text
        self.i = 0
        self.n = len(text)
        self.env = Env(base_uri)
        if init_prefixes:
            self.env.prefixes.update(init_prefixes)
        self.trig = trig
        self.lax = lax
        self.default_graph = default_graph
        self.bprefix = blank_prefix
        self.next_id = 1 + blank_offset
        self.seen_genid = False
        self.scan_only = scan_only
        self.graph: Optional[Node] = None
        self.triples: list[Triple] = []
        self.cols: Optional[tuple[list, ...]] = (
            tuple([] for _ in range(8)) if collect_columns else None)
        self.errors: list[tuple[int, str]] = []
        # In-order directive patch list: ('prefix', name, raw_uri) or
        # ('base', '', raw_uri); raw = before base-resolution so the
        # fold can chain bases across chunks.
        self.directives: list[tuple[str, str, str]] = []

    # ---- low-level cursor ----

    def peek(self, off: int = 0) -> str:
        j = self.i + off
        return self.s[j] if j < self.n else _EOF

    def take(self) -> str:
        c = self.s[self.i] if self.i < self.n else _EOF
        self.i += 1 if c else 0
        return c

    def expect(self, ch: str) -> None:
        if self.peek() != ch:
            raise ParseError(f"expected {ch!r}, got {self.peek()!r}", self.i)
        self.i += 1

    def err(self, msg: str) -> ParseError:
        return ParseError(msg, self.i)

    def skip_ws(self) -> None:
        # Fast paths for the two overwhelmingly common cases (no ws at
        # all / one single space) before paying for the regex engine.
        s, i, n = self.s, self.i, self.n
        if i >= n:
            return
        c = s[i]
        if c not in " \t\r\n#":
            return
        if c == " ":
            j = i + 1
            if j >= n or s[j] not in " \t\r\n#":
                self.i = j
                return
        m = _WS_RE.match(s, i)
        if m is not None:
            self.i = m.end()

    def at_eof(self) -> bool:
        return self.i >= self.n

    # ---- blank ids ----

    def gen_blank(self) -> Node:
        nid = self.next_id
        self.next_id += 1
        return Node(f"{self.bprefix}b{nid}", BLANK)

    # ---- emission ----

    def emit(self, s: Node, p: Node, o: Node) -> None:
        if self.scan_only:
            return
        if self.graph is not None:
            # Blank graph labels carry a '_:' marker so they stay
            # distinguishable from IRIs (and join the bijection).
            g = ("_:" + self.graph.value if self.graph.type == BLANK
                 else self.graph.value)
        else:
            g = self.default_graph
        c = self.cols
        if c is not None:
            c[0].append(g)
            c[1].append(s.value)
            c[2].append(s.type)
            c[3].append(p.value)
            c[4].append(o.value)
            c[5].append(o.type)
            c[6].append(o.datatype)
            c[7].append(o.lang)
            return
        self.triples.append(
            Triple(g, s.value, s.type, p.value, o.value, o.type,
                   o.datatype, o.lang)
        )

    # ---- entry ----

    def parse(self) -> tuple[list[Triple], list[tuple[int, str]]]:
        while True:
            self.skip_ws()
            if self.at_eof():
                break
            try:
                self.read_statement()
            except (ParseError, EscapeError, CurieError) as e:
                pos = getattr(e, "pos", self.i)
                self.errors.append((pos, str(e)))
                if not self.lax:
                    break
                # Lax recovery: skip to next newline and continue.
                j = self.s.find("\n", self.i)
                self.i = self.n if j == -1 else j + 1
        return self.triples, self.errors

    # ---- statements & directives ----

    def read_statement(self) -> None:
        c = self.peek()
        if c == "@":
            self.read_at_directive()
            return
        # SPARQL-style PREFIX/BASE (case-insensitive, no dot).
        if c in "pPbB":
            word = self.s[self.i : self.i + 6]
            if word[:6].lower() == "prefix" and self._word_boundary(6):
                self.i += 6
                self.read_prefix_body(sparql=True)
                return
            if word[:4].lower() == "base" and self._word_boundary(4):
                self.i += 4
                self.read_base_body(sparql=True)
                return
        if self.trig:
            self.read_trig_block()
        else:
            self.read_triples()
            self.skip_ws()
            self.expect(".")

    def _word_boundary(self, length: int) -> bool:
        c = self.peek(length)
        return c == _EOF or c in " \t\r\n#<:"

    def read_at_directive(self) -> None:
        self.expect("@")
        # @-directives are lowercase-only (uppercase is rejected).
        if self.s.startswith("prefix", self.i):
            self.i += 6
            self.read_prefix_body(sparql=False)
        elif self.s.startswith("base", self.i):
            self.i += 4
            self.read_base_body(sparql=False)
        else:
            raise self.err("invalid directive")

    def read_prefix_body(self, sparql: bool) -> None:
        self.skip_ws()
        name = self.read_pn_prefix_opt()
        self.expect(":")
        self.skip_ws()
        uri = self.read_iriref_raw()
        self.directives.append(("prefix", name, uri))
        self.env.set_prefix(name, uri)
        if not sparql:
            self.skip_ws()
            self.expect(".")

    def read_base_body(self, sparql: bool) -> None:
        self.skip_ws()
        uri = self.read_iriref_raw()
        self.directives.append(("base", "", uri))
        self.env.set_base_uri(uri)
        if not sparql:
            self.skip_ws()
            self.expect(".")

    # ---- TriG graphs ----

    def read_trig_block(self) -> None:
        c = self.peek()
        if c == "{":
            self.read_wrapped_graph(None)
            return
        if c in "gG" and self.s[self.i : self.i + 5].lower() == "graph":
            nxt = self.peek(5)
            if nxt == _EOF or nxt in " \t\r\n#<_[":
                self.i += 5
                self.skip_ws()
                label = self.read_label_or_subject()
                self.skip_ws()
                if self.peek() != "{":
                    raise self.err("expected '{' after GRAPH label")
                self.read_wrapped_graph(label)
                return
        # labelOrSubject (wrappedGraph | predicateObjectList '.')
        subj, kind = self.read_subject_for_trig()
        self.skip_ws()
        if self.peek() == "{" and kind == "label":
            self.read_wrapped_graph(subj)
            return
        if kind == "anon" and self.peek() in (".", _EOF):
            # '[ ... ] .' — anon subject with its description inside
            self.expect(".")
            return
        self.read_predicate_object_list(subj)
        self.skip_ws()
        self.expect(".")

    def read_label_or_subject(self) -> Node:
        c = self.peek()
        if c == "<":
            return Node(self.read_iriref(), URI)
        if c == "_":
            return self.read_blank_label()
        if c == "[":
            # '[' ws* ']' as anonymous graph label
            self.expect("[")
            self.skip_ws()
            self.expect("]")
            return self.gen_blank()
        # prefixed name
        node, _ = self.read_prefixed_name_node()
        return node

    def read_subject_for_trig(self) -> tuple[Node, str]:
        """Read a subject; also report its kind: 'label' (IRI/blank
        label/empty [] — eligible to be a graph label), 'anon'
        ([ ... ] with content), or 'other' (collection)."""
        c = self.peek()
        if c == "<":
            return Node(self.read_iriref(), URI), "label"
        if c == "_":
            return self.read_blank_label(), "label"
        if c == "[":
            # could be an empty [] (usable as label) or anon subject
            mark = self.i
            self.expect("[")
            self.skip_ws()
            if self.peek() == "]":
                self.i += 1
                return self.gen_blank(), "label"
            self.i = mark
            return self.read_anon(subject=True), "anon"
        if c == "(":
            return self.read_collection(), "other"
        node, _ = self.read_prefixed_name_node()
        return node, "label"

    def read_wrapped_graph(self, label: Optional[Node]) -> None:
        self.expect("{")
        old = self.graph
        self.graph = label
        try:
            while True:
                self.skip_ws()
                if self.peek() == "}":
                    self.i += 1
                    break
                if self.at_eof():
                    raise self.err("unexpected end of graph block")
                self.read_triples()
                self.skip_ws()
                c = self.peek()
                if c == ".":
                    self.i += 1
                elif c == "}":
                    self.i += 1
                    break
                else:
                    raise self.err("expected '.' or '}' in graph")
        finally:
            self.graph = old

    # ---- triples ----

    def read_triples(self) -> None:
        c = self.peek()
        if c == "[":
            mark = self.i
            self.expect("[")
            self.skip_ws()
            if self.peek() == "]":
                # empty [] subject: predicateObjectList required
                self.i += 1
                subj = self.gen_blank()
                self.read_predicate_object_list(subj)
                return
            self.i = mark
            subj = self.read_anon(subject=True)
            # anon-subject triples may omit predicateObjectList
            self.skip_ws()
            if self.peek() not in (".", "}", _EOF):
                self.read_predicate_object_list(subj)
            return
        if c == "(":
            subj = self.read_collection()
            self.read_predicate_object_list(subj)
            return
        subj, ate_dot = self.read_subject()
        if ate_dot:
            raise self.err("'.' after subject")
        self.read_predicate_object_list(subj)

    def read_subject(self) -> tuple[Node, bool]:
        c = self.peek()
        if c == "<":
            return Node(self.read_iriref(), URI), False
        if c == "_":
            return self.read_blank_label(), False
        node, ate_dot = self.read_prefixed_name_node()
        if node.type == LITERAL:
            raise self.err("literal subject")
        return node, ate_dot

    def read_predicate_object_list(self, subj: Node) -> None:
        while True:
            self.skip_ws()
            verb = self.read_verb()
            self.skip_ws()
            self.read_object_list(subj, verb)
            self.skip_ws()
            if self.peek() == ";":
                # consume runs of ';'
                while True:
                    self.i += 1
                    self.skip_ws()
                    if self.peek() != ";":
                        break
                # trailing ';' before '.', '}' or ']' is allowed
                if self.peek() in (".", "}", "]", _EOF):
                    return
                continue
            return

    def read_object_list(self, subj: Node, verb: Node) -> None:
        s = self.s
        while True:
            self.skip_ws()
            obj = self.read_object()
            self.emit(subj, verb, obj)
            self.skip_ws()
            if self.i < self.n and s[self.i] == ",":
                self.i += 1
                continue
            return

    def read_verb(self) -> Node:
        c = self.peek()
        if c == "a":
            # 'a' is the rdf:type verb iff not followed by a name
            # continuation (whitespace-free 'a<iri>'/'a[]' are legal).
            nxt = self.peek(1)
            if not nxt or not (is_pn_chars(nxt) or nxt in ":%\\"):
                self.i += 1
                return Node(RDF_TYPE, URI)
        if c == "<":
            return Node(self.read_iriref(), URI)
        node, ate_dot = self.read_prefixed_name_node()
        if ate_dot or node.type != URI:
            raise self.err("bad verb")
        return node

    def read_object(self) -> Node:
        c = self.s[self.i] if self.i < self.n else _EOF
        if c == _EOF:
            raise self.err("unexpected end of input")
        if c == "<":
            return Node(self.read_iriref(), URI)
        if c == "_":
            return self.read_blank_label()
        if c == "[":
            return self.read_anon(subject=False)
        if c == "(":
            return self.read_collection()
        if c in "\"'":
            return self.read_quoted_literal()
        if c in "+-." or is_digit(c):
            return self.read_number()
        # named object: boolean or prefixed name
        node, ate_dot = self.read_prefixed_name_node()
        if ate_dot:
            # The dot was a statement terminator; rewind one char so
            # the caller's '.' check sees it.
            self.i -= 1
        return node

    # ---- terms ----

    def read_iriref_raw(self) -> str:
        """Read <...> and unescape \\u/\\U; no base resolution."""
        m = _IRIREF_FAST_RE.match(self.s, self.i)
        if m is not None:
            self.i = m.end()
            return m.group(1)
        self.expect("<")
        out: list[str] = []
        s, n = self.s, self.n
        while True:
            if self.i >= n:
                raise self.err("unterminated IRI")
            c = s[self.i]
            if c == ">":
                self.i += 1
                return "".join(out)
            if c == "\\":
                self.i += 1
                e = self.take()
                if e == "u":
                    hx = s[self.i : self.i + 4]
                    if len(hx) != 4 or not all(is_hex(h) for h in hx):
                        raise self.err("bad \\u escape in IRI")
                    self.i += 4
                    ch = decode_uchar(hx)
                elif e == "U":
                    hx = s[self.i : self.i + 8]
                    if len(hx) != 8 or not all(is_hex(h) for h in hx):
                        raise self.err("bad \\U escape in IRI")
                    self.i += 8
                    ch = decode_uchar(hx)
                else:
                    raise self.err(f"invalid IRI escape '\\{e}'")
                if ch in ' <>':
                    # Escapes must not produce space/</> (n3.c:626-633;
                    # exactly the W3C turtle-eval-bad-01..03 set).
                    raise self.err(f"escaped char {ch!r} not allowed in IRI")
                out.append(ch)
                continue
            if not iri_char_ok(c):
                # Lax keeps raw control chars (≤0x20) in the IRI with a
                # warning (n3.c:646-655 non-strict branch); the explicit
                # exclusion set ("<>^`{|}\\) always errors.
                if not (self.lax and ord(c) <= 0x20):
                    raise self.err(f"bad IRI character {c!r}")
            out.append(c)
            self.i += 1

    def read_iriref(self) -> str:
        return self.env.resolve(self.read_iriref_raw())

    def read_pn_prefix_opt(self) -> str:
        """PN_PREFIX? — empty string allowed (default namespace)."""
        m = _PN_PREFIX_RE.match(self.s, self.i)
        if m is not None:
            self.i = m.end()
            return m.group(0)
        c = self.peek()
        if c == ":" or not c:
            return ""
        if not is_pn_chars_base(c):
            raise self.err("bad prefix name start")
        out = [self.take()]
        while True:
            c = self.peek()
            if c == ".":
                # dots allowed mid-name but not at end
                j = self.i + 1
                run = 1
                while j < self.n and self.s[j] == ".":
                    j += 1
                    run += 1
                if j < self.n and is_pn_chars(self.s[j]):
                    out.append(self.s[self.i : j + 1])
                    self.i = j + 1
                    continue
                break
            if c and is_pn_chars(c):
                out.append(self.take())
            else:
                break
        return "".join(out)

    def read_pn_local(self) -> tuple[str, bool]:
        """PN_LOCAL with PLX (%XX kept verbatim, \\-escapes decoded)
        and trailing-dot backtrack.  Returns (local, ate_dot)."""
        # entries: (text, source_len, is_plain_dot) — escaped dots
        # ('\\.') are NOT statement terminators, so track plainness.
        s, n = self.s, self.n
        m = _PN_LOCAL_FAST_RE.match(s, self.i)
        if m is not None:
            nxt = s[m.end()] if m.end() < n else _EOF
            if nxt not in "%\\" and not _DOTS_THEN_PLX_RE.match(s, m.end()):
                self.i = m.end()
                return m.group(0), False
        entries: list[tuple[str, int, bool]] = []
        first = True
        while self.i < n:
            c = s[self.i]
            if c == "%":
                hx = s[self.i + 1 : self.i + 3]
                if len(hx) != 2 or not all(is_hex(h) for h in hx):
                    raise self.err("bad %-escape in local name")
                entries.append((s[self.i : self.i + 3], 3, False))
                self.i += 3
            elif c == "\\":
                e = s[self.i + 1] if self.i + 1 < n else _EOF
                if e not in PN_LOCAL_ESC:
                    raise self.err(f"invalid local-name escape '\\{e}'")
                entries.append((e, 2, False))
                self.i += 2
            elif first and (is_pn_chars_u(c) or c == ":" or is_digit(c)):
                entries.append((c, 1, False))
                self.i += 1
            elif not first and (is_pn_chars(c) or c == ":"):
                entries.append((c, 1, False))
                self.i += 1
            elif not first and c == ".":
                entries.append((c, 1, True))
                self.i += 1
            else:
                break
            first = False
        # Trailing plain dots terminate the statement, not the name:
        # back off so the caller re-reads them (n3.c trailing-dot
        # backtrack).
        while entries and entries[-1][2]:
            self.i -= entries[-1][1]
            entries.pop()
        return "".join(e[0] for e in entries), False

    def read_prefixed_name_node(self) -> tuple[Node, bool]:
        """PrefixedName | boolean.  Returns (node, ate_dot)."""
        start = self.i
        c = self.peek()
        name = ""
        if c != ":":
            if not c or not is_pn_chars_base(c):
                raise self.err(f"expected name, got {c!r}")
            name = self.read_pn_prefix_opt()
        if self.peek() != ":":
            # bare word: boolean?
            word = self.s[start : self.i]
            if word in ("true", "false"):
                return Node(word, LITERAL, datatype=XSD_BOOLEAN), False
            raise ParseError(f"expected ':' after {word!r}", start)
        self.i += 1  # ':'
        local, _ = self.read_pn_local()
        try:
            iri = self.env.expand(name, local)
        except CurieError:
            if not self.scan_only:
                raise
            # scan mode: prefix may be defined in an earlier chunk
            iri = f"urn:serd-spark-scan:{name}:{local}"
        return Node(iri, URI), False

    def read_blank_label(self) -> Node:
        self.expect("_")
        self.expect(":")
        c = self.peek()
        if not c or not (is_pn_chars_u(c) or is_digit(c)):
            raise self.err("bad blank node label start")
        out = [self.take()]
        while True:
            c = self.peek()
            if c == ".":
                # same trailing-dot rule as PN_LOCAL
                j = self.i + 1
                if j < self.n and (is_pn_chars(self.s[j]) or self.s[j] == "."):
                    out.append(self.take())
                    continue
                break
            if c and is_pn_chars(c):
                out.append(self.take())
            else:
                break
        label = "".join(out)
        # strip any trailing dots we greedily consumed
        while label.endswith("."):
            label = label[:-1]
            self.i -= 1
        # Clash avoidance vs generated '{prefix}b<n>' ids
        # (reference n3.c:885-898): user 'b<digit>…' → 'B<digit>…'.
        if len(label) >= 2 and is_digit(label[1]):
            if label[0] == "b":
                label = "B" + label[1:]
                self.seen_genid = True
            elif label[0] == "B" and self.seen_genid:
                raise self.err(
                    "found both 'b' and 'B' blank IDs, prefix required")
        return Node(self.bprefix + label, BLANK)

    def read_anon(self, subject: bool) -> Node:
        self.expect("[")
        self.skip_ws()
        node: Optional[Node] = None
        if not subject and self.peek() == "=":
            # serd extension: '[ == <name> ; ... ]' names the node
            # (cf. read_blankName, n3.c read_anon '=' branch).
            self.expect("=")
            self.expect("=")
            self.skip_ws()
            c = self.peek()
            if c == "<":
                node = Node(self.read_iriref(), URI)
            elif c == "_":
                node = self.read_blank_label()
            else:
                node, _ = self.read_prefixed_name_node()
            self.skip_ws()
            self.expect(";")
            self.skip_ws()
        if node is None:
            node = self.gen_blank()
        if self.peek() == "]":
            self.i += 1
            return node
        self.read_predicate_object_list(node)
        self.skip_ws()
        self.expect("]")
        return node

    def read_collection(self) -> Node:
        self.expect("(")
        self.skip_ws()
        if self.peek() == ")":
            self.i += 1
            return Node(RDF_NIL, URI)
        head = self.gen_blank()
        node = head
        first = True
        rdf_first = Node(RDF_FIRST, URI)
        rdf_rest = Node(RDF_REST, URI)
        while True:
            obj = self.read_object()
            self.emit(node, rdf_first, obj)
            self.skip_ws()
            if self.peek() == ")":
                self.i += 1
                self.emit(node, rdf_rest, Node(RDF_NIL, URI))
                return head
            nxt = self.gen_blank()
            self.emit(node, rdf_rest, nxt)
            node = nxt

    # ---- literals ----

    def read_quoted_literal(self) -> Node:
        q = self.peek()
        value = self.read_string_body(q)
        c = self.peek()
        lang = None
        datatype = None
        if c == "@":
            self.i += 1
            lang = self.read_langtag()
        elif c == "^":
            self.expect("^")
            self.expect("^")
            self.skip_ws()
            c = self.peek()
            if c == "<":
                datatype = self.read_iriref()
            else:
                node, _ = self.read_prefixed_name_node()
                if node.type != URI:
                    raise self.err("bad datatype")
                datatype = node.value
        return Node(value, LITERAL, datatype=datatype, lang=lang)

    def read_langtag(self) -> str:
        m = _LANGTAG_RE.match(self.s, self.i)
        if m is None:
            raise self.err("bad language tag")
        self.i = m.end()
        if self.i < self.n and self.s[self.i] == "-":
            # '-' not followed by an alnum subtag
            raise self.err("bad language tag subtag")
        return m.group(0)

    def read_string_body(self, q: str) -> str:
        s, n = self.s, self.n
        if not s.startswith(q * 3, self.i):
            m = _SHORT_STR_RE[q].match(s, self.i)
            if m is not None:
                self.i = m.end()
                return m.group(1)
        if s.startswith(q * 3, self.i):
            # long string: bulk-copy spans between quotes/escapes
            self.i += 3
            out: list[str] = []
            while True:
                i = self.i
                jq = s.find(q, i)
                jb = s.find("\\", i)
                if jq == -1:
                    raise self.err("unterminated long string")
                j = jq if (jb == -1 or jq < jb) else jb
                if j > i:
                    out.append(s[i:j])
                    self.i = j
                if s[j] == "\\":
                    out.append(self.read_escape_seq())
                    continue
                # count quote run; the FIRST 3 consecutive quotes
                # close the string (grammar: inner quote runs are
                # at most 2) — extra quotes stay in the stream and
                # become a syntax error downstream.
                k = j
                while k < n and s[k] == q:
                    k += 1
                run = k - j
                if run >= 3:
                    self.i = j + 3
                    return "".join(out)
                out.append(q * run)
                self.i = k
        # short string
        self.expect(q)
        out = []
        while True:
            if self.i >= n:
                raise self.err("unterminated string")
            c = s[self.i]
            if c == q:
                self.i += 1
                return "".join(out)
            if c in "\n\r":
                raise self.err("newline in short string")
            if c == "\\":
                out.append(self.read_escape_seq())
                continue
            out.append(c)
            self.i += 1

    def read_escape_seq(self) -> str:
        # positioned at '\'
        self.i += 1
        e = self.take()
        if e == "u":
            hx = self.s[self.i : self.i + 4]
            if len(hx) != 4 or not all(is_hex(h) for h in hx):
                raise self.err("bad \\u escape")
            self.i += 4
            return decode_uchar(hx, lax=self.lax)
        if e == "U":
            hx = self.s[self.i : self.i + 8]
            if len(hx) != 8 or not all(is_hex(h) for h in hx):
                raise self.err("bad \\U escape")
            self.i += 8
            return decode_uchar(hx, lax=self.lax)
        if e in ECHAR_MAP:
            return ECHAR_MAP[e]
        raise self.err(f"invalid escape '\\{e}'")

    def read_number(self) -> Node:
        s, n = self.s, self.n
        start = self.i
        out: list[str] = []
        c = self.peek()
        has_decimal = False
        if c in "+-":
            out.append(self.take())
            c = self.peek()
        if c == ".":
            # decimal case '.5'
            has_decimal = True
            out.append(self.take())
            if not is_digit(self.peek()):
                raise self.err("expected digit after '.'")
            while is_digit(self.peek()):
                out.append(self.take())
        else:
            if not is_digit(c):
                raise self.err("expected digit")
            while is_digit(self.peek()):
                out.append(self.take())
            if self.peek() == ".":
                # dot may end the statement (reference n3.c:726-737):
                # continue only if a digit or exponent follows.
                nxt = self.peek(1)
                if is_digit(nxt) or (nxt and nxt in "eE"):
                    has_decimal = True
                    out.append(self.take())
                    while is_digit(self.peek()):
                        out.append(self.take())
        c = self.peek()
        if c in "eE":
            out.append(self.take())
            c = self.peek()
            if c in "+-":
                out.append(self.take())
            if not is_digit(self.peek()):
                raise self.err("expected exponent digit")
            while is_digit(self.peek()):
                out.append(self.take())
            return Node("".join(out), LITERAL, datatype=XSD_DOUBLE)
        if has_decimal:
            return Node("".join(out), LITERAL, datatype=XSD_DECIMAL)
        return Node("".join(out), LITERAL, datatype=XSD_INTEGER)


def parse_turtle(
    text: str,
    base_uri: str = "",
    blank_prefix: str = "",
    trig: bool = False,
    lax: bool = False,
    default_graph: Optional[str] = None,
    init_prefixes: Optional[dict[str, str]] = None,
    blank_offset: int = 0,
) -> tuple[list[Triple], list[tuple[int, str]]]:
    """Convenience wrapper: parse a whole Turtle/TriG document.

    ``text`` may be raw bytes: strict mode rejects invalid UTF-8 at the
    offending byte, lax mode substitutes U+FFFD (read_utf8.c parity).
    """
    utf8_err = None
    if isinstance(text, (bytes, bytearray)):
        text, utf8_err = decode_rdf_text(text, lax)
    triples, errors = TurtleParser(
        text, base_uri=base_uri, blank_prefix=blank_prefix, trig=trig,
        lax=lax, default_graph=default_graph,
        init_prefixes=init_prefixes, blank_offset=blank_offset,
    ).parse()
    if utf8_err is not None:
        errors.append(utf8_err)
    return triples, errors


def scan_directives(
    text: str, trig: bool = False
) -> list[tuple[str, str, str]]:
    """Extract the in-order directive patch list from a document chunk
    (full-grammar scan, emission suppressed, unknown prefixes
    tolerated).  Folded over earlier chunks (``parse.fold_patches``),
    it rebuilds the Env the Turtle pass carries into a chunk; the
    benchmark reference and the parse tests use it that way."""
    p = TurtleParser(text, trig=trig, lax=True, scan_only=True)
    p.parse()
    return p.directives
