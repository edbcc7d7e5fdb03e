"""Round-trip property for the abbreviating Turtle writer (the
'perfect' suite analogue): write(T) re-parses isomorphic to T, for
every W3C turtle/trig eval test and targeted abbreviation cases."""

import os

import pytest

from serd_spark.compare import isomorphic
from serd_spark.suites import REFERENCE_TEST_DIR, discover, parse_golden
from serd_spark.turtle import parse_turtle
from serd_spark.writer_turtle import write_turtle


def roundtrip(triples, prefixes=None, trig=False):
    text = write_turtle(triples, prefixes=prefixes, trig=trig)
    got, errors = parse_turtle(text, base_uri="http://rt.example/",
                               trig=trig)
    assert not errors, (errors[:3], text[:400])
    assert isomorphic(got, triples), text[:400]
    return text


@pytest.mark.skipif(not os.path.isdir(REFERENCE_TEST_DIR),
                    reason="reference test corpus not available")
@pytest.mark.parametrize("suite", ["turtle", "trig"])
def test_roundtrip_w3c_evals(suite):
    n = 0
    for t in discover(suite):
        if t.kind != "eval":
            continue
        want = parse_golden(t)
        # graphs: turtle writer handles quads via TriG sections
        roundtrip(want, trig=(suite == "trig"))
        n += 1
    assert n > 100


def test_abbreviations_render():
    doc = """
    @prefix ex: <http://example.org/> .
    ex:s a ex:C ; ex:p 1, 2.5, 1.0e3, true ;
         ex:q [ ex:r "x" ] ;
         ex:list (1 "two" ex:three) .
    """
    triples, errors = parse_turtle(doc, base_uri="http://b/")
    assert not errors
    text = roundtrip(triples, prefixes={"ex": "http://example.org/"})
    assert "a ex:C" in text
    assert "( " in text and " )" in text
    assert "[ " in text
    assert "ex:p 1, " in text  # bare integer
    assert "true" in text
    assert "@prefix ex:" in text


def test_cycle_falls_back_to_labels():
    doc = "_:a <http://p/> _:b . _:b <http://p/> _:a ."
    triples, errors = parse_turtle(doc, base_uri="http://b/")
    assert not errors
    roundtrip(triples)


def test_shared_blank_uses_label():
    doc = ("<http://s1> <http://p/> _:x . <http://s2> <http://p/> _:x . "
           "_:x <http://q/> 1 .")
    triples, errors = parse_turtle(doc, base_uri="http://b/")
    assert not errors
    text = roundtrip(triples)
    assert "_:" in text  # shared blank must stay labeled


def test_serdi_ascii_turtle_mode():
    """serdi -a: all non-ASCII escaped as \\u/\\U in Turtle output;
    re-parse restores the original values."""
    from serd_spark.compare import isomorphic
    from serd_spark.turtle import parse_turtle
    from serd_spark.writer_serdi import EventParser, SerdiWriter

    doc = ('<http://ex.org/sé> <http://ex.org/p> '
           '"café \U0001d11e" .')
    p = EventParser(doc, base_uri="http://base/")
    triples, errors = p.parse()
    assert not errors
    w = SerdiWriter(base_uri="http://base/", ascii_=True)
    for ev in p.events:
        w.write_statement(ev[1], ev[2], ev[3], ev[4], ev[5])
    out = w.finish()
    assert "\\u00E9" in out and "\\U0001D11E" in out
    assert all(ord(c) < 0x80 for c in out)
    got, errs = parse_turtle(out, base_uri="http://base/")
    assert not errs
    assert isomorphic(got, triples)
