"""fast_scan_directives must agree exactly with the full-grammar
scan (TurtleParser scan_only), and its fold must be the Env the
parser ends a document with — the Env the Turtle pass carries into
the next chunk."""

import json
import os

import pytest

from serd_spark.operators.parse import fold_patches
from serd_spark.scan import fast_scan_directives
from serd_spark.suites import REFERENCE_TEST_DIR, discover
from serd_spark.transcripts import gen_local
from serd_spark.turtle import TurtleParser, scan_directives


def test_matches_full_scan_on_corpus():
    for kw in ({}, {"with_errors": True}):
        rows = gen_local(60, mega_every=10, mega_factor=10, **kw)
        docs = {}
        for r in rows:
            docs.setdefault(r[0], []).append(r[3])
        for cid, texts in docs.items():
            text = "\n".join(texts)
            got = fast_scan_directives(text)
            assert scan_directives(text) == got, (kw, cid)
            base = f"http://transcripts.example/{cid}"
            parser = TurtleParser(text, base_uri=base, lax=True)
            parser.parse()
            env = fold_patches([(0, json.dumps(got))], 1, base)
            assert (env.prefixes, env.base_uri) == \
                (parser.env.prefixes, parser.env.base_uri), (kw, cid)


@pytest.mark.skipif(not os.path.isdir(REFERENCE_TEST_DIR),
                    reason="reference test corpus not available")
def test_matches_full_scan_on_w3c():
    n = 0
    for t in discover("turtle") + discover("trig") + discover("good"):
        if t.kind == "negative":
            continue
        text = t.read_text()
        assert scan_directives(text, trig=(t.syntax == "trig")) \
            == fast_scan_directives(text), t.name
        n += 1
    assert n > 400


def test_tricky_contexts():
    text = (
        '<http://s> <http://p> "not @prefix x: <http://no/> ." .\n'
        "# @base <http://no/> .\n"
        "@prefix real: <http://yes/> .\n"
        "<http://s> <http://p> '''multi\n@prefix fake: <http://no/> .\n''' .\n"
        "PREFIX sp: <http://sparql/>\n"
        "<http://s> <http://p> <http://o#@prefix> .\n"
    )
    got = fast_scan_directives(text)
    assert got == [("prefix", "real", "http://yes/"),
                   ("prefix", "sp", "http://sparql/")]
    assert got == scan_directives(text)

    # lax recovery ends an unterminated IRI at the line's end, so the
    # PREFIX after it applies
    text = ('@prefix ex: <http://old/> .\nex:s ex:p <unterminated\n'
            'ex:s2 ex:p "x" .\nPREFIX ex: <http://new/>')
    got = fast_scan_directives(text)
    assert got == [("prefix", "ex", "http://old/"),
                   ("prefix", "ex", "http://new/")]
    assert got == scan_directives(text)
