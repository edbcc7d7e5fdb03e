"""Directive scan of one Turtle chunk: its in-order
``('prefix'|'base', name, raw_uri)`` patch list.

The engine does not scan: the Turtle pass carries the parser's Env
from chunk to chunk.  ``fast_scan_directives`` is the grammar scan
(``turtle.scan_directives``) under the name the benchmark's reference
and kernel probe import.  It must be the grammar, not a lexical
pattern match: lax recovery ends an unterminated IRI at the line's
end, and a lexical ``<``…``>`` skip would hide the directives after it.
"""

from __future__ import annotations

from .turtle import scan_directives as fast_scan_directives  # noqa: F401
