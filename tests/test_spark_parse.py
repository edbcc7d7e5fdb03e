"""Spark-stage tests: parse paths, the Turtle pass against a
driver-side chunk reference, the W3C turtle suite executed *through*
the Spark pipeline, and the resumable end-to-end pipeline."""

import json
import os

import pytest

from serd_spark.compare import match_counts
from serd_spark.nodes import Triple
from serd_spark.operators.parse import (
    DEFAULT_BASE_TEMPLATE,
    _rows_for_doc,
    fold_patches,
    parse_documents,
    parse_documents_colocated,
    parse_ntriples_lines,
    split_quarantine,
)
from serd_spark.suites import REFERENCE_TEST_DIR
from serd_spark.transcripts import gen_local, transcripts_df
from serd_spark.turtle import scan_directives

pytestmark = pytest.mark.spark


def collect_triples(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.conv_id, []).append(
            Triple(r.g, r.s, r.s_type, r.p, r.o, r.o_type,
                   r.o_datatype, r.o_lang))
    return out


TRIPLE_SCHEMA = ("g string, s string, s_type int, p string, o string, "
                 "o_type int, o_datatype string, o_lang string")


def written_lines(workdir) -> list[str]:
    """The ``line`` column of a pipeline's NQuads output, part files
    in name order (the canonical stream)."""
    import pyarrow.parquet as pq

    path = os.path.join(workdir, "nquads")
    return [ln for name in sorted(os.listdir(path))
            if name.startswith("part-")
            for ln in pq.read_table(os.path.join(path, name),
                                    columns=["line"]).column(0)
            .to_pylist()]


def written_triples(spark, workdir):
    """A pipeline's NQuads output read back through the N-Triples line
    parser, whose code is separate from the Turtle grammar."""
    from serd_spark.ntriples import parse_nt_line

    return spark.createDataFrame(
        [tuple(parse_nt_line(ln)) for ln in written_lines(workdir)],
        TRIPLE_SCHEMA)


@pytest.fixture(scope="module")
def small_corpus(spark):
    df = transcripts_df(spark, 20, mega_every=7, mega_factor=12)
    df.cache().count()
    return df


def chunk_reference(rows, chunk_turns: int) -> list[tuple]:
    """Driver-side rows of the Turtle pass: each ``chunk_turns``-turn
    chunk parsed alone (``_rows_for_doc``) from the Env folded out of
    the earlier chunks' grammar scans — the kernels the benchmark
    reference uses."""
    convs: dict[str, list[tuple[int, str]]] = {}
    for conv_id, turn_idx, _role, text, _tool, _ts in rows:
        convs.setdefault(conv_id, []).append((turn_idx, text))
    out: list[tuple] = []
    for conv_id, turns in convs.items():
        base = DEFAULT_BASE_TEMPLATE.format(conv_id=conv_id)
        chunks: dict[int, list[tuple[int, str]]] = {}
        for turn_idx, text in sorted(turns):
            chunks.setdefault(turn_idx // chunk_turns, []).append(
                (turn_idx, text))
        texts = {ci: "\n".join(t for _, t in ch)
                 for ci, ch in chunks.items()}
        patches = [(ci, json.dumps(scan_directives(t)))
                   for ci, t in texts.items()]
        for ci in sorted(chunks):
            env = fold_patches(patches, ci, base)
            out += _rows_for_doc(
                conv_id, texts[ci], base, "turtle", True,
                init_prefixes=env.prefixes, init_base=env.base_uri,
                blank_offset=ci << 32, stmt_offset=ci << 40,
                turn_lens=[(ti, len(t)) for ti, t in chunks[ci]])
    return out


def by_stmt(rows) -> list[tuple]:
    return sorted(map(tuple, rows), key=lambda r: (r[0], r[1]))


def test_parse_matches_driver_side(spark, small_corpus):
    """Spark parse == driver-side parse of the same docs."""
    from serd_spark.turtle import parse_turtle

    got = collect_triples(
        split_quarantine(parse_documents(small_corpus))[0])

    rows = gen_local(20, mega_every=7, mega_factor=12)
    docs = {}
    for conv_id, turn_idx, role, text, tool, ts in rows:
        docs.setdefault(conv_id, []).append((turn_idx, text))
    assert set(docs) == set(got)
    for conv_id, turns in docs.items():
        text = "\n".join(t for _, t in sorted(turns))
        want, errors = parse_turtle(
            text,
            base_uri=DEFAULT_BASE_TEMPLATE.format(conv_id=conv_id),
            blank_prefix=f"{conv_id}-", lax=True)
        assert not errors
        m, a, b = match_counts(got[conv_id], want)
        assert m == a == b, (conv_id, m, a, b)


def test_chunked_equals_whole(spark):
    """The Turtle pass == the driver-side chunk reference, every row
    exactly (ids, error rows and cursors included), on a clean corpus,
    one with injected errors (a chunk boundary is a lax resync point,
    so error rows depend on where chunks are cut) and a mega-
    conversation corpus."""
    for kw, chunk_turns in (
        (dict(n_convs=20, mega_every=7, mega_factor=12), 8),
        (dict(n_convs=60, mega_every=7, mega_factor=12,
              with_errors=True), 64),
        (dict(n_convs=120, mega_every=16, mega_factor=20), 32),
    ):
        got = by_stmt(parse_documents_colocated(
            transcripts_df(spark, **kw), chunk_turns=chunk_turns).collect())
        want = by_stmt(chunk_reference(gen_local(**kw), chunk_turns))
        assert len(got) == len(want), (kw, len(got), len(want))
        assert got == want, kw


def test_ntriples_line_path(spark):
    lines = [
        '<http://a/s> <http://a/p> "hi" .',
        "<http://a/s> <http://a/p> <http://a/o> <http://a/g> .",
        "bad line",
        "# comment",
    ]
    df = spark.createDataFrame(
        [("c1", 0, "user", "\n".join(lines), None, None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    tri, err = split_quarantine(parse_ntriples_lines(df))
    assert tri.count() == 2
    assert err.count() == 1
    plan = tri._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # shuffle-free path


@pytest.mark.skipif(not os.path.isdir(REFERENCE_TEST_DIR),
                    reason="reference test corpus not available")
def test_w3c_turtle_through_spark(spark):
    """All W3C Turtle eval tests as transcript rows through the Spark
    parse stage; P/R == 1.0 (the BASELINE gate, held exactly)."""
    from serd_spark.suites import discover, parse_golden

    tests = [t for t in discover("turtle") if t.kind == "eval"]
    assert len(tests) > 100
    rows = [(t.name, 0, "user", t.read_text(), None, None) for t in tests]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    parsed = parse_documents(
        df, syntax="turtle", lax=False,
        base_template="http://www.w3.org/2013/TurtleTests/{conv_id}")
    tri, err = split_quarantine(parsed)
    assert err.count() == 0
    got = collect_triples(tri)
    matched = n_got = n_want = 0
    for t in tests:
        want = parse_golden(t)
        m, a, b = match_counts(got.get(t.name, []), want)
        matched += m
        n_got += a
        n_want += b
        assert m == a == b, (t.name, m, a, b)
    assert matched == n_got == n_want


def test_pipeline_end_to_end_and_resume(spark, tmpdir_path):
    from serd_spark.pipeline import KGPipeline

    tdf = transcripts_df(spark, 12, mega_every=5, mega_factor=10)
    pipe = KGPipeline(spark, tmpdir_path, chunk_turns=8)
    s1 = pipe.run(tdf)
    assert s1["n_triples"] > 0
    assert s1["n_errors"] == 0
    assert os.path.exists(os.path.join(tmpdir_path, "summary.json"))
    # canonical sorted output exists and is sorted
    out = spark.read.parquet(s1["output"]).collect()
    lines = [r.line for r in out]
    assert len(lines) == s1["n_triples"]

    assert s1["n_convs"] == 12

    # resume: second run must skip all stages (checkpoint markers) and
    # report the same counts, read from the checkpoints' markers
    pipe2 = KGPipeline(spark, tmpdir_path, chunk_turns=8)
    s2 = pipe2.run(tdf)
    resumed = [st for st in s2["stages"] if st.get("resumed")]
    assert len(resumed) >= 4
    assert [st["rows"] for st in resumed] == [
        st["rows"] for st in s1["stages"]]
    for k in ("n_triples", "n_errors", "n_convs"):
        assert s2[k] == s1[k], k


def test_lax_quarantine_through_pipeline(spark, tmpdir_path):
    from serd_spark.pipeline import KGPipeline

    tdf = transcripts_df(spark, 15, mega_every=0, with_errors=True)
    pipe = KGPipeline(spark, tmpdir_path, chunk_turns=8)
    s = pipe.run(tdf)
    assert s["n_errors"] > 0       # injected errors quarantined
    assert s["n_triples"] > 0      # job still succeeds (lax, O-17)
    # the summary's counts are the written datasets' sizes
    tri = written_triples(spark, tmpdir_path)
    err = spark.read.parquet(os.path.join(tmpdir_path, "errors"))
    assert (s["n_triples"], s["n_errors"]) == (tri.count(), err.count())
    assert s["n_convs"] == 15
    s2 = KGPipeline(spark, tmpdir_path, chunk_turns=8).run(tdf)
    for k in ("n_triples", "n_errors", "n_convs"):
        assert s2[k] == s[k], k


@pytest.fixture(scope="module")
def finished_run(spark):
    """One lax KGPipeline run over a corpus with injected errors and
    mega-conversations: its workdir, summary, corpus and the plan-node
    names of every SQL execution it ran, in order."""
    import shutil
    import tempfile

    from serd_spark.pipeline import KGPipeline

    tdf = transcripts_df(spark, 40, mega_every=7, mega_factor=10,
                         with_errors=True)
    tdf.cache().count()
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    seen = {e.executionId() for e in _executions(store)}
    workdir = tempfile.mkdtemp(prefix="serd_spark_test_")
    summary = KGPipeline(spark, workdir, chunk_turns=8).run(tdf)
    bus.waitUntilEmpty()
    execs = [(e.physicalPlanDescription(),
              _node_names(store.planGraph(e.executionId())))
             for e in _executions(store) if e.executionId() not in seen]
    yield workdir, summary, tdf, execs
    tdf.unpersist()
    shutil.rmtree(workdir, ignore_errors=True)


def _executions(store) -> list:
    ex = store.executionsList()
    return sorted((ex.apply(i) for i in range(ex.size())),
                  key=lambda e: e.executionId())


def _node_names(graph) -> list[str]:
    it = graph.allNodes().iterator()
    names = []
    while it.hasNext():
        names.append(it.next().name())
    return names


def test_pipeline_nquads_sorted_and_duplicate_free(finished_run):
    """The NQuads output, read part file by part file, is one stream
    sorted on SORT_KEY (nulls first) with no line twice, and the
    summary's per-part-file ``partitions`` add up to ``n_triples``."""
    from serd_spark.ntriples import parse_nt_line
    from serd_spark.operators.materialize import SORT_KEY

    workdir, summary, _, _ = finished_run
    lines = written_lines(workdir)
    assert len(lines) == len(set(lines)) == summary["n_triples"] > 0
    keys = [tuple((v is not None, v or "") for v in
                  (getattr(t, c) for c in SORT_KEY))
            for t in map(parse_nt_line, lines)]
    assert keys == sorted(keys)
    assert sum(summary["partitions"]) == summary["n_triples"]


def test_pipeline_tail_is_one_range_exchange(finished_run):
    """After the parse the run plans two Exchanges: the range Exchange
    the dedup and the sorted NQuads write share, and the ``metrics``
    aggregation's.  The NQuads write sorts once."""
    _, _, _, execs = finished_run
    writes = {stage: names for desc, names in execs
              for stage in ("parsed", "errors", "metrics", "nquads")
              if "InsertIntoHadoopFsRelationCommand" in desc
              and f"/{stage}," in desc}
    assert set(writes) == {"parsed", "errors", "metrics", "nquads"}
    tail = [names for desc, names in execs
            if "MapInArrow" not in desc]
    assert sum(names.count("Exchange") for names in tail) == 2
    assert writes["nquads"].count("Exchange") == 1
    assert writes["nquads"].count("Sort") == 1


def test_pipeline_full_resume_starts_no_job(spark, finished_run):
    """A re-run of a finished job skips every stage and starts no
    Spark job, and reports the same summary."""
    from serd_spark.pipeline import KGPipeline

    workdir, summary, tdf, _ = finished_run
    tracker = spark.sparkContext.statusTracker()

    def last_job():
        return max(tracker.getJobIdsForGroup(None), default=-1)

    before = last_job()
    again = KGPipeline(spark, workdir, chunk_turns=8).run(tdf)
    assert last_job() == before
    assert all(st.get("resumed") for st in again["stages"])
    for k in ("n_triples", "n_errors", "n_convs", "partitions"):
        assert again[k] == summary[k], k


def test_pipeline_metrics_checkpoint_from_parsed(spark, finished_run):
    """The ``metrics`` checkpoint is conv_metrics_from_parsed of the
    ``parsed`` checkpoint: the triples each conversation emitted, not
    those left after the global dedup."""
    from serd_spark.operators.canonicalize import conv_metrics_from_parsed

    workdir, summary, _, _ = finished_run

    def rows(df):
        return sorted(map(tuple, df.collect()))

    got = rows(spark.read.parquet(os.path.join(workdir, "metrics")))
    want = rows(conv_metrics_from_parsed(
        spark.read.parquet(os.path.join(workdir, "parsed"))))
    assert got == want
    assert len(got) == summary["n_convs"]


def test_locate_cursor_units():
    """(turn, line, col) mapping over a '\\n'-joined document
    (reference cursor: src/byte_source.h:14-18)."""
    from serd_spark.operators.parse import locate_cursor

    texts = [(0, "ab\ncd"), (3, "x"), (7, "line1\nline2")]
    turns = [(i, len(t)) for i, t in texts]
    text = "ab\ncd\nx\nline1\nline2"
    assert locate_cursor(0, text, turns) == (0, 1, 1)
    assert locate_cursor(1, text, turns) == (0, 1, 2)
    assert locate_cursor(3, text, turns) == (0, 2, 1)   # 'c'
    assert locate_cursor(4, text, turns) == (0, 2, 2)   # 'd'
    assert locate_cursor(6, text, turns) == (3, 1, 1)   # 'x' in turn 3
    assert locate_cursor(8, text, turns) == (7, 1, 1)   # 'l' of line1
    assert locate_cursor(14, text, turns) == (7, 2, 1)  # 'l' of line2
    assert locate_cursor(18, text, turns) == (7, 2, 5)


def test_error_cursor_reports_turn(spark):
    """A syntax error in turn k of a multi-turn conversation reports
    turn k and the in-turn line, not a flat char offset."""
    rows = [
        ("c1", 0, "user", "<http://a/s> <http://a/p> <http://a/o> .",
         None, None),
        ("c1", 2, "user", "# fine line\n<http://a/s <broken", None, None),
        ("c1", 5, "user", "<http://a/s2> <http://a/p> <http://a/o> .",
         None, None),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    _, err = split_quarantine(parse_documents(df))
    msgs = [r.err for r in err.collect()]
    assert msgs, "expected a quarantined error"
    assert any(m.startswith("turn 2, line 2,") for m in msgs), msgs


def test_error_cursor_colocated_and_chunked(spark):
    """The error cursor names the turn inside an 8-turn chunk."""
    rows = [
        ("c1", 0, "user", "<http://a/s> <http://a/p> <http://a/o> .",
         None, None),
        ("c1", 1, "user", "<http://a/s <broken", None, None),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    _, err = split_quarantine(parse_documents_colocated(df, chunk_turns=8))
    msgs = [r.err for r in err.collect()]
    assert any(m.startswith("turn 1, line 1,") for m in msgs), msgs


# A PREFIX after an unterminated IRI: the lax parser skips to the end
# of the bad line and applies the PREFIX, so the next turn's ex: is
# http://new/.  A lexical scanner that reads '<' up to the next '>'
# across newlines misses it.
PREFIX_AFTER_BAD_IRI = ('@prefix ex: <http://old/> .\n'
                        'ex:s ex:p <unterminated\n'
                        'ex:s2 ex:p "x" .\n'
                        'PREFIX ex: <http://new/>')


def test_pipeline_carries_prefix_after_unterminated_iri(spark,
                                                        tmpdir_path):
    """KGPipeline, parse_documents and a whole-document TurtleParser
    agree on the Env a chunk starts with, even after lax recovery."""
    from serd_spark.pipeline import KGPipeline
    from serd_spark.turtle import TurtleParser

    tdf = spark.createDataFrame(
        [("c1", 0, "user", PREFIX_AFTER_BAD_IRI, None, None),
         ("c1", 1, "user", "ex:s3 ex:p ex:o .", None, None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string")
    KGPipeline(spark, tmpdir_path, chunk_turns=1).run(tdf)
    piped = {r.s for r in written_triples(spark, tmpdir_path).collect()}
    parsed = {r.s for r in split_quarantine(
        parse_documents(tdf))[0].collect()}
    whole, _ = TurtleParser(
        PREFIX_AFTER_BAD_IRI + "\nex:s3 ex:p ex:o .",
        base_uri=DEFAULT_BASE_TEMPLATE.format(conv_id="c1"),
        lax=True).parse()
    assert "http://new/s3" in piped
    assert "http://old/s3" not in piped
    assert piped == parsed == {t.s for t in whole}


def test_colocated_guard_rejects_split_conversation(spark):
    """A conversation split across partitions still parses whole: the
    pass's own repartition(conv_id) regroups it (a split conversation
    would otherwise lose its Env carry and parse turns twice)."""
    rows = [("c1", i, "user",
             f"<http://a/s{i}> <http://a/p> <http://a/o> .", None, None)
            for i in range(16)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp").repartition(4)  # round-robin split
    out = parse_documents_colocated(df)
    assert out.where("err is null").count() == 16


def test_nt_fast_path_equals_slow(spark):
    """Vectorized escape-free fast path == per-line parser on a batch
    mixing fast lines, escaped lines, comments, and bad lines."""
    from serd_spark.ntriples import parse_nt_line

    lines = [
        '<http://a/s> <http://a/p> "plain" .',
        '<http://a/s> <http://a/p> "" .',                      # empty lit
        '<http://a/s> <http://a/p> "x"@en-GB .',
        '<http://a/s> <http://a/p> "n"^^<http://dt> .',
        "_:b1 <http://a/p> _:b2.x .",                          # dotted label
        "<http://a/s><http://a/p><http://a/o>.",               # no spaces
        '<http://a/s> <http://a/p> "esc\\t\\"q\\"" .',         # ECHAR
        '<http://a/s> <http://a/p> "\\u00e9\\U0001F600" .',    # UCHAR
        '<http://a/\\u00e9> <http://a/p> <http://a/o> .',      # IRI UCHAR
        "<http://a/s> <http://a/p> <http://a/o> <http://a/g> .",
        "<http://a/s> <http://a/p> <http://a/o> _:g .",
        "# comment",
        "<relative> <http://a/p> <http://a/o> .",              # bad: rel IRI
        "total junk",
    ]
    df = spark.createDataFrame(
        [("cX", 3, "user", "\n".join(lines), None, None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    got = {r.stmt_idx: r for r in parse_ntriples_lines(df).collect()}

    n_ok = n_err = 0
    for i, line in enumerate(lines):
        stmt_idx = (3 << 20) | i
        try:
            t = parse_nt_line(line, blank_prefix="cX-", nquads=True)
        except Exception as e:
            r = got[stmt_idx]
            assert r.err is not None
            assert r.err.startswith(f"turn 3, line {i + 1}:"), r.err
            assert str(e) in r.err
            n_err += 1
            continue
        if t is None:
            assert stmt_idx not in got
            continue
        r = got[stmt_idx]
        assert r.err is None, (line, r.err)
        assert (r.g, r.s, r.s_type, r.p, r.o, r.o_type, r.o_datatype,
                r.o_lang) == (t.g, t.s, t.s_type, t.p, t.o, t.o_type,
                              t.o_datatype, t.o_lang), line
        n_ok += 1
    assert n_ok == 11 and n_err == 2


def test_conv_metrics_single_pass_equivalence(spark):
    """conv_metrics_from_parsed(parsed) — one aggregation, so the parse
    plan is evaluated once — equals per-conversation counts of the
    parsed rows: triples emitted and errors quarantined."""
    from collections import Counter

    from serd_spark.operators.canonicalize import conv_metrics_from_parsed

    tdf = transcripts_df(spark, 24, mega_every=8, mega_factor=10,
                         with_errors=True)
    parsed = parse_documents_colocated(tdf, chunk_turns=16)
    rows = parsed.collect()
    n_tri = Counter(r.conv_id for r in rows if r.err is None)
    n_err = Counter(r.conv_id for r in rows if r.err is not None)
    a = {(c, n_tri[c], n_err[c]) for c in {r.conv_id for r in rows}}
    b = {tuple(r) for r in conv_metrics_from_parsed(parsed).collect()}
    assert a == b and any(n_err.values())


def test_syntax_dispatch_routes_nq_to_line_parser(spark):
    """parse_documents with an NT/NQ syntax routes to the line
    parser (serd O-3 dispatch): a quad's
    graph label lands in ``g`` — the Turtle grammar has no
    production for it and would quarantine the line — and the
    default graph stays NULL."""
    tdf = spark.createDataFrame(
        [("c1", 0, "user",
          "<urn:s:1> <urn:p> <urn:o:1> <urn:g:x> .\n"
          "<urn:s:2> <urn:p> <urn:o:2> .", None, None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string")
    t, e = split_quarantine(parse_documents(tdf, syntax="nquads"))
    got = {(r.s, r.g) for r in t.collect()}
    assert got == {("urn:s:1", "urn:g:x"), ("urn:s:2", None)}
    assert e.count() == 0
    # ntriples dispatch REJECTS the graph label instead.
    t2, e2 = split_quarantine(
        parse_documents(tdf, syntax="ntriples"))
    assert e2.count() == 1
    assert {r.s for r in t2.collect()} == {"urn:s:2"}


def test_nt_strict_stops_at_first_error(spark):
    """Strict (lax=False) NT parse stops each conversation at its
    FIRST bad line — earlier triples stand, later triples and later
    errors drop; other conversations are untouched (serd strict
    aborts per document, O-17)."""
    from serd_spark.operators.parse import (
        parse_ntriples_lines,
        split_quarantine,
    )

    tdf = spark.createDataFrame(
        [("c1", 0, "user",
          "<urn:s:1> <urn:p> <urn:o:1> .\n"
          "junk line .\n"
          "<urn:s:2> <urn:p> <urn:o:2> .\n"
          "more junk .", None, None),
         ("c2", 0, "user", "<urn:s:3> <urn:p> <urn:o:3> .",
          None, None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string")
    t, e = split_quarantine(parse_ntriples_lines(tdf, lax=False))
    assert {r.s for r in t.collect()} == {"urn:s:1", "urn:s:3"}
    errs = e.collect()
    assert len(errs) == 1 and errs[0].conv_id == "c1"
    # lax keeps everything and quarantines BOTH bad lines
    t2, e2 = split_quarantine(parse_ntriples_lines(tdf, lax=True))
    assert {r.s for r in t2.collect()} == {
        "urn:s:1", "urn:s:2", "urn:s:3"}
    assert e2.count() == 2


def _strict_pipeline(spark, tdf, tmpdir):
    from serd_spark.operators.materialize import read_checkpoint
    from serd_spark.pipeline import KGPipeline

    KGPipeline(spark, tmpdir, lax=False, chunk_turns=2).run(tdf)
    tri = written_triples(spark, tmpdir)
    err = read_checkpoint(spark, os.path.join(tmpdir, "errors"))
    return tri, err


@pytest.mark.parametrize("run", [
    lambda spark, tdf, _: split_quarantine(
        parse_documents(tdf, lax=False)),
    lambda spark, tdf, _: split_quarantine(
        parse_documents_colocated(tdf, chunk_turns=2, lax=False)),
    _strict_pipeline,
], ids=["parse_documents", "colocated", "KGPipeline"])
def test_turtle_strict_stops_at_first_error(spark, tmpdir_path, run):
    """Strict Turtle stops each conversation at its FIRST error even
    when later chunks parse cleanly on their own: c1 breaks in turn 0
    (chunk 0), c2 in turn 3 (chunk 1, after turn 2's triple), c3 is
    clean."""
    good = "<http://a/{c}{i}> <http://a/p> <http://a/o> ."
    rows = []
    for conv, bad_turn in (("c1", 0), ("c2", 3), ("c3", None)):
        rows += [(conv, i, "user",
                  "<http://a/s <broken" if i == bad_turn
                  else good.format(c=conv, i=i), None, None)
                 for i in range(6)]
    tdf = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string")
    t, e = run(spark, tdf, tmpdir_path)
    assert sorted(r.s for r in t.collect()) == (
        [f"http://a/c2{i}" for i in range(3)]
        + [f"http://a/c3{i}" for i in range(6)])
    assert sorted(r.conv_id for r in e.collect()) == ["c1", "c2"]


def test_turtle_parse_documents_plan(spark, small_corpus):
    """Turtle parse_documents is one repartition(defaultParallelism,
    conv_id) in front of one mapInArrow pass: no grouped-map UDF, no
    Spark job started while the plan is built, and AQE does not
    coalesce the small parse shuffle into fewer tasks than cores."""
    import re

    tracker = spark.sparkContext.statusTracker()

    def last_job():
        return max(tracker.getJobIdsForGroup(None), default=-1)

    before = last_job()
    parsed = parse_documents(small_corpus)
    qe = parsed._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    assert last_job() == before
    assert "MapInArrow" in plan
    assert "FlatMapGroupsInPandas" not in plan
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1, plan
    width = re.search(r"hashpartitioning\(conv_id#\d+, (\d+)\)",
                      exchanges[0])
    assert width, plan
    assert int(width.group(1)) == spark.sparkContext.defaultParallelism

    assert parsed.collect()
    final = qe.executedPlan().toString()
    assert "isFinalPlan=true" in final, final
    assert "AQEShuffleRead" not in final, final


def test_line_syntax_rejects_base_template(spark):
    """ADVICE r6: the NT/NQ dispatch used to silently drop a caller's
    base_template (the line grammars have no relative-IRI production);
    a non-default value is now rejected."""
    tdf = spark.createDataFrame(
        [("c1", 0, "user", "<urn:a> <urn:b> <urn:c> .", None, None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string")
    with pytest.raises(ValueError, match="base_template"):
        parse_documents(tdf, syntax="ntriples",
                        base_template="http://x/{conv_id}")
    # the default template stays accepted (and ignored, per NT spec)
    assert parse_documents(tdf, syntax="ntriples").count() == 1
