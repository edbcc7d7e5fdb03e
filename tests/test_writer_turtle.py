"""Round-trip property for the abbreviating Turtle writer (the
'perfect' suite analogue): serd's writer output re-parses isomorphic
to its input, for every W3C turtle/trig eval test and targeted
abbreviation cases.  Turtle text goes through ``pretty_print`` (the
``serdi -i turtle -o turtle`` path, which keeps the reader's anon and
list flags); triple sets go through ``events_from_triples`` +
``write_events`` (the flat-input path)."""

import os

import pytest

from serd_spark.compare import isomorphic
from serd_spark.suites import REFERENCE_TEST_DIR, discover, parse_golden
from serd_spark.turtle import parse_turtle
from serd_spark.writer_serdi import (events_from_triples, pretty_print,
                                     write_events)

BASE = "http://rt.example/"


def reparses_to(text, triples, trig=False):
    got, errors = parse_turtle(text, base_uri=BASE, trig=trig)
    assert not errors, (errors[:3], text[:400])
    assert isomorphic(got, triples), text[:400]


def roundtrip(triples, trig=False):
    text = write_events(events_from_triples(triples),
                        syntax="trig" if trig else "turtle",
                        base_uri=BASE)
    reparses_to(text, triples, trig=trig)
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
        # graphs: the writer handles quads via TriG sections
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
    triples, errors = parse_turtle(doc, base_uri=BASE)
    assert not errors
    text = pretty_print(doc, base_uri=BASE)
    reparses_to(text, triples)
    assert "a ex:C" in text
    assert "ex:p 1 ," in text  # bare integer
    assert "true" in text
    assert "ex:q [" in text
    assert "ex:list (" in text
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


def test_trig_graphs_roundtrip():
    """Named, blank and default graphs, a list and a lang-tagged
    literal holding a newline, written as TriG sections."""
    doc = """@prefix ex: <http://example.org/> .
    ex:g { ex:s ex:p ( 1 2 ) ; ex:l "a\\nb"@en . }
    _:bg { ex:s ex:p _:x . }
    { ex:d ex:p ex:o . }
    """
    triples, errors = parse_turtle(doc, base_uri=BASE, trig=True)
    assert not errors
    text = roundtrip(triples, trig=True)
    assert "_:bg {" in text and '"""a\nb"""@en' in text


def test_serdi_ascii_turtle_mode():
    """serdi -a: all non-ASCII escaped as \\u/\\U in Turtle output;
    re-parse restores the original values."""
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
