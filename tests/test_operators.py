"""Tests for canonicalize / expand / streaming stages."""

import os

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.spark


def _triples_df(spark):
    rows = [
        ("c1", 0, None, "http://a/s", 2, "http://a/p", "hello\nworld", 1,
         None, "en"),
        ("c1", 1, None, "b1", 4, "http://a/p", "http://a/o", 2, None, None),
        ("c1", 2, "http://g/", "http://a/s", 2, "http://a/p", "42", 1,
         "http://www.w3.org/2001/XMLSchema#integer", None),
        # duplicate of row 0 with later stmt_idx
        ("c1", 3, None, "http://a/s", 2, "http://a/p", "hello\nworld", 1,
         None, "en"),
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, stmt_idx long, g string, s string, s_type int, "
        "p string, o string, o_type int, o_datatype string, o_lang string",
    )


def test_dedup_keeps_first(spark):
    from serd_spark.operators.canonicalize import dedup_triples

    out = dedup_triples(_triples_df(spark)).collect()
    assert len(out) == 3
    kept = [r for r in out if r.o == "hello\nworld"]
    assert kept[0].stmt_idx == 0  # smallest stmt_idx wins


def test_nquads_lines_canonical(spark):
    from serd_spark.operators.canonicalize import nquads_line_col
    from serd_spark.ntriples import parse_ntriples

    df = _triples_df(spark)
    lines = [r[0] for r in df.select(nquads_line_col(df)).collect()]
    assert '"hello\\nworld"@en' in lines[0]
    assert lines[1].startswith("_:b1 ")
    assert lines[2].endswith("<http://g/> .")
    # canonical lines must re-parse losslessly
    triples, errors = parse_ntriples("\n".join(lines))
    assert not errors
    assert len(triples) == 4


@pytest.mark.parametrize("escaped_literals", ["false", "true"])
def test_nquads_line_bytes(spark, escaped_literals):
    """The exact NQuads spelling of every term form, under either
    setting of the SQL parser's string-literal mode, and each line
    re-parses to the row it came from (a language tag wins over a
    datatype)."""
    from serd_spark.ntriples import parse_nt_line
    from serd_spark.operators.canonicalize import nquads_line_col

    xsd_int = "http://www.w3.org/2001/XMLSchema#integer"
    xsd_str = "http://www.w3.org/2001/XMLSchema#string"
    rows = [
        (None, "http://a/s", 2, "http://a/p", 'a\\b"c\nd\re\tf', 1,
         None, None),
        ("http://g/", "http://a/s", 2, "http://a/p", "", 1, None, None),
        ("_:g1", "b1", 4, "http://a/p", "x", 1, xsd_str, "en"),
        (None, "b2", 4, "http://a/p", "42", 1, xsd_int, None),
        ("_:g1", "http://a/s", 2, "http://a/p", "b3", 4, None, None),
        ("http://g/", "http://a/s", 2, "http://a/p", "http://a/o", 2,
         None, None),
    ]
    want = [
        '<http://a/s> <http://a/p> "a\\\\b\\"c\\nd\\re\\tf" .',
        '<http://a/s> <http://a/p> "" <http://g/> .',
        '_:b1 <http://a/p> "x"@en _:g1 .',
        f'_:b2 <http://a/p> "42"^^<{xsd_int}> .',
        "<http://a/s> <http://a/p> _:b3 _:g1 .",
        "<http://a/s> <http://a/p> <http://a/o> <http://g/> .",
    ]
    df = spark.createDataFrame(
        rows, "g string, s string, s_type int, p string, o string, "
        "o_type int, o_datatype string, o_lang string")
    key = "spark.sql.parser.escapedStringLiterals"
    old = spark.conf.get(key)
    spark.conf.set(key, escaped_literals)
    try:
        got = [r[0] for r in df.select(nquads_line_col(df)).collect()]
    finally:
        spark.conf.set(key, old)
    assert got == want
    for row, line in zip(rows, got):
        g, s, s_type, p, o, o_type, dt, lang = row
        assert tuple(parse_nt_line(line)) == (
            g, s, s_type, p, o, o_type, None if lang else dt, lang)


def test_intern_nodes_roundtrip(spark):
    from serd_spark.operators.canonicalize import intern_nodes

    nodes, tid = intern_nodes(_triples_df(spark))
    n = nodes.collect()
    assert len(n) == len({(r.value, r.type, r.datatype, r.lang) for r in n})
    # every referenced id resolves
    ids = {r.node_id for r in n}
    for r in tid.collect():
        assert r.s_id in ids and r.p_id in ids and r.o_id in ids


def test_expand_and_qualify(spark):
    """Corpus-scale expansion joins a prefixes frame; upsert and
    qualification are the per-document Env's (O-19, O-21)."""
    from serd_spark.env import Env
    from serd_spark.operators.expand import (
        expand_curies,
        undefined_prefixes,
    )

    env = Env()
    for name, uri in (("ex", "http://one/"), ("kg", "http://kg/"),
                      ("ex", "http://two/")):
        env.set_prefix(name, uri)
    assert env.prefixes == {"ex": "http://two/", "kg": "http://kg/"}
    assert env.qualify("http://two/x") == "ex:x"
    assert env.qualify("http://kg/y") == "kg:y"
    assert env.qualify("http://other/z") is None

    prefixes = spark.createDataFrame(
        [("ex", "http://two/"), ("kg", "http://kg/")],
        "name string, uri string")
    curies = spark.createDataFrame(
        [("ex:a",), ("kg:b",), ("nope:c",)], "curie string")
    exp = {r.curie: r.iri for r in expand_curies(curies, prefixes).collect()}
    assert exp["ex:a"] == "http://two/a"
    assert exp["kg:b"] == "http://kg/b"
    assert exp["nope:c"] is None

    undef = [r.curie for r in
             undefined_prefixes(curies, prefixes).collect()]
    assert undef == ["nope:c"]


def _land(spark, path, rows):
    """Append ``rows`` to ``path`` as one parquet file."""
    from serd_spark.transcripts import TRANSCRIPT_SCHEMA

    spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).coalesce(1) \
        .write.mode("append").parquet(path)


def _assert_same_rows(got, want):
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_streaming_incremental_parse(spark, tmpdir_path):
    """Whole conversations in 9 files, then 2 more after a restart:
    the sink equals the batch parse of every landed turn, row for
    row, though maxFilesPerTrigger=8 splits the first run into two
    micro-batches."""
    from serd_spark.operators.parse import parse_documents, split_quarantine
    from serd_spark.streaming.ingest import start_incremental_parse
    from serd_spark.transcripts import conv_turns

    inp = os.path.join(tmpdir_path, "in")
    out = os.path.join(tmpdir_path, "out")
    ckpt = os.path.join(tmpdir_path, "ckpt")

    def land_convs(first, n):
        for c in range(first, first + n):
            _land(spark, inp, list(conv_turns(c, mega_every=0,
                                              with_errors=True)))

    land_convs(0, 9)
    q = start_incremental_parse(spark, inp, out, ckpt)
    q.awaitTermination(120)
    assert sum(1 for p in q.recentProgress if p.numInputRows) >= 2

    # late-arriving files: the restarted query resumes from ckpt
    land_convs(100, 2)
    q2 = start_incremental_parse(spark, inp, out, ckpt)
    q2.awaitTermination(120)

    want, want_err = split_quarantine(parse_documents(
        spark.read.parquet(inp), lax=True))
    assert want_err.count() > 0
    _assert_same_rows(spark.read.parquet(f"{out}/triples"), want)
    _assert_same_rows(spark.read.parquet(f"{out}/errors"), want_err)


def test_streaming_parse_quarantines_spanning_conversation(
        spark, tmpdir_path):
    """Turns 0-1 of a conversation land in one micro-batch and turns
    2-3 in the next.  The first batch parses turns 0-1 as the batch
    pass does; the second parses nothing of it and quarantines one
    row naming turns 2..3, so no blank or statement id is reused and
    nothing resolves against a lost @prefix / @base.  A conversation
    with a gap (turns 0 and 2) is quarantined the same way."""
    from serd_spark.operators.parse import parse_documents, split_quarantine
    from serd_spark.streaming.ingest import start_incremental_parse
    from serd_spark.transcripts import TRANSCRIPT_SCHEMA

    turns = [
        ("c1", 0, "user",
         "@prefix ex: <http://ex/> . @base <http://b/> .", None, None),
        ("c1", 1, "user", "ex:a ex:p [ ex:q 1 ] . <rel> ex:p _:x .",
         None, None),
        ("c1", 2, "user", "<rel2> <http://ex/p> [ <http://ex/q> 2 ] .",
         None, None),
        ("c1", 3, "user", "ex:c ex:p ex:d .", None, None),
    ]
    gap = [("c2", t, "user", f"<http://a/s{t}> <http://a/p> <http://a/o> .",
            None, None) for t in (0, 2)]
    inp = os.path.join(tmpdir_path, "in")
    out = os.path.join(tmpdir_path, "out")
    ckpt = os.path.join(tmpdir_path, "ckpt")
    for batch in (turns[:2] + gap, turns[2:]):
        _land(spark, inp, batch)
        start_incremental_parse(spark, inp, out, ckpt).awaitTermination(120)

    got = spark.read.parquet(f"{out}/triples")
    want, _ = split_quarantine(parse_documents(
        spark.createDataFrame(turns[:2], TRANSCRIPT_SCHEMA), lax=True))
    _assert_same_rows(got, want)
    assert got.groupBy("conv_id", "stmt_idx").count() \
        .where(F.col("count") > 1).count() == 0
    rows = spark.read.parquet(f"{out}/errors").collect()
    assert sorted(r.conv_id for r in rows) == ["c1", "c2"]
    errs = {r.conv_id: r for r in rows}
    assert all(r.err_idx == -1 for r in errs.values())
    assert "turns 2..3 (2 rows)" in errs["c1"].err
    assert "turns 0..2 (2 rows)" in errs["c2"].err


def test_streaming_parse_runs_once_per_micro_batch(spark, tmpdir_path):
    """The triples and errors writes share one parse: each micro-batch
    runs exactly one SQL execution with a MapInArrow, and the
    materialized batch is released when the batch ends."""
    from serd_spark.streaming.ingest import start_incremental_parse
    from serd_spark.transcripts import transcripts_df

    inp = os.path.join(tmpdir_path, "in")
    transcripts_df(spark, 20, mega_every=0, with_errors=True) \
        .coalesce(1).write.parquet(inp)
    sc = spark.sparkContext
    n_persisted = sc._jsc.getPersistentRDDs().size()
    q = start_incremental_parse(spark, inp,
                                os.path.join(tmpdir_path, "out"),
                                os.path.join(tmpdir_path, "ckpt"))
    q.awaitTermination(120)

    execs = spark._jsparkSession.sharedState().statusStore() \
        .executionsList()
    per_batch: dict[str, int] = {}
    for i in range(execs.size()):
        e = execs.apply(i)
        desc = e.description() or ""
        if f"runId = {q.runId}" not in desc:
            continue
        batch = desc.rsplit("batch = ", 1)[1]
        per_batch[batch] = per_batch.get(batch, 0) + (
            "MapInArrow" in e.physicalPlanDescription())
    assert per_batch == {"0": 1}
    assert sc._jsc.getPersistentRDDs().size() == n_persisted


def test_lsh_drop_metrics(spark):
    """The max_bucket guardrail is observable: Observation counters +
    the dropped-bucket ledger (no silent cap)."""
    from pyspark.sql import Observation

    from serd_spark.operators.dedup import (
        lsh_dropped_buckets,
        minhash_lsh_pairs,
    )

    # 12 identical docs (one hot bucket per band) + 3 distinct docs
    rows = [(i, "the same exact text repeated again and again")
            for i in range(12)]
    rows += [(100 + i, f"unique document number {i} with its own words "
              f"entirely {i}") for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    obs = Observation("lsh")
    pairs = minhash_lsh_pairs(docs, n_bands=4, max_bucket=8,
                              observation=obs)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    # the 12 identical docs were all in oversized buckets -> no pairs
    assert not any(a < 12 and b < 12 for a, b in got)
    assert obs.get["n_rows_dropped"] == 12 * 4
    assert obs.get["n_buckets_dropped"] == 4

    ledger = lsh_dropped_buckets(docs, n_bands=4, max_bucket=8).collect()
    assert len(ledger) == 4
    assert all(r.bucket_n == 12 for r in ledger)


def test_ngram_jaccard_shuffle_fallback(spark):
    """broadcast_pairs=False gives identical results with shuffle
    joins (the path for pair tables past the broadcast threshold)."""
    from serd_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = minhash_lsh_pairs(docs, n_bands=4).cache()
    a = {tuple(r) for r in ngram_jaccard(docs, pairs).collect()}
    b = {tuple(r) for r in
         ngram_jaccard(docs, pairs, broadcast_pairs=False).collect()}
    assert a == b and a


def test_write_checkpoint_no_rescan(spark, tmpdir_path):
    """Row count, and any further named count, come from the
    write-side Observation, not a re-read, and land in the marker."""
    from serd_spark.operators.materialize import (
        checkpoint_info,
        write_checkpoint,
    )

    df = spark.range(1234).withColumnRenamed("id", "x")
    p = os.path.join(tmpdir_path, "ckpt1")
    info = write_checkpoint(df, p, "stage1")
    assert info["rows"] == 1234
    assert checkpoint_info(p)["rows"] == 1234
    p2 = os.path.join(tmpdir_path, "ckpt2")
    odd = F.count(F.when(F.col("x") % 2 == 1, F.lit(1)))
    info2 = write_checkpoint(df, p2, "stage2", counts={"odd": odd})
    assert (info2["rows"], info2["odd"]) == (1234, 617)
    assert checkpoint_info(p2)["odd"] == 617


def test_dup_clusters_chain_and_singletons(spark):
    """Min-label propagation handles chains (worst-case diameter) and
    leaves separate components apart."""
    from serd_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),      # chain -> cluster 1
         (10, 11),                            # pair  -> cluster 10
         (20, 21), (21, 22), (20, 22)],       # triangle -> cluster 20
        "doc_a long, doc_b long")
    got = {(r.doc_id, r.cluster_id) for r in dup_clusters(pairs).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (5, 1),
                   (10, 10), (11, 10),
                   (20, 20), (21, 20), (22, 20)}


def test_asof_join_semantics(spark):
    """Backward as-of: latest right ts <= left ts per key; inclusive
    ties; no-match -> nulls; tolerance nulls out stale matches."""
    from serd_spark.operators.sessions import asof_join

    from datetime import datetime as DT

    left = spark.createDataFrame(
        [(1, DT(2024, 1, 1, 10, 0), 100),
         (2, DT(2024, 1, 1, 10, 5), 100),
         (3, DT(2024, 1, 1, 9, 0), 200)],   # before any right row
        "event_id long, ts timestamp, user_id long")
    right = spark.createDataFrame(
        [(50, DT(2024, 1, 1, 9, 59), 100, 1.0),
         (51, DT(2024, 1, 1, 10, 0), 100, 2.0),   # tie with left id 1
         (52, DT(2024, 1, 1, 10, 1), 100, 3.0),
         (60, DT(2024, 1, 1, 12, 0), 200, 9.0)],  # after left id 3
        "event_id long, ts timestamp, user_id long, value double")
    r = asof_join(left, right.select("user_id", "ts", "event_id", "value"),
                  by="user_id", ts_col="ts",
                  right_cols=("event_id", "value"))
    got = {row.event_id: (row.event_id_r, row.value_r)
           for row in r.collect()}
    assert got[1] == (51, 2.0)     # inclusive tie
    assert got[2] == (52, 3.0)     # latest preceding
    assert got[3] == (None, None)  # nothing at or before

    # tolerance: id 2's match is 4 min old; 60s tolerance drops it
    r2 = asof_join(left, right.select("user_id", "ts", "event_id", "value"),
                   by="user_id", ts_col="ts",
                   right_cols=("event_id", "value"), tolerance_sec=60)
    got2 = {row.event_id: row.event_id_r for row in r2.collect()}
    assert got2[1] == 51 and got2[2] is None and got2[3] is None


def test_stratified_sample_deterministic(spark):
    """Hash sampling: rerun-identical, partitioning-independent,
    salt-independent draws, approximate rate."""
    from serd_spark.operators.text import hash_uniform_col, stratified_sample

    docs = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de")
        .alias("lang_pred"))
    rates = {"en": 0.2, "de": 0.9}
    a = {r.doc_id for r in stratified_sample(docs, rates).collect()}
    b = {r.doc_id
         for r in stratified_sample(docs.repartition(13), rates).collect()}
    assert a == b  # partitioning-independent
    en = sum(1 for d in a if d % 2 == 0) / 2000
    de = sum(1 for d in a if d % 2 == 1) / 2000
    assert abs(en - 0.2) < 0.05 and abs(de - 0.9) < 0.05
    # independent draws per salt
    c = {r.doc_id
         for r in stratified_sample(docs, rates, salt="v2").collect()}
    assert c != a
    # unknown stratum -> default_rate 0 (dropped)
    docs2 = docs.withColumn("lang_pred", F.lit("xx"))
    assert stratified_sample(docs2, rates).count() == 0
    # uniform col in [0, 1)
    u = docs.select(hash_uniform_col(F.col("doc_id")).alias("u")) \
        .agg(F.min("u"), F.max("u")).first()
    assert 0.0 <= u[0] and u[1] < 1.0


def test_interval_join_bucketed_equals_plain(spark):
    """The time-bucketed interval join (scale path for huge per-key
    interval sets) returns exactly the plain equi+range join's rows,
    including boundary timestamps, multi-containment, and
    out-of-every-interval events."""
    from datetime import datetime as DT

    from serd_spark.operators.sessions import interval_join

    ev = spark.createDataFrame(
        [(1, 1, DT(2024, 1, 1, 0, 0)), (2, 1, DT(2024, 1, 1, 0, 30)),
         (3, 1, DT(2024, 1, 1, 2, 0)),   # outside every interval
         (4, 2, DT(2024, 1, 1, 0, 15)),  # contained in two intervals
         (5, 2, DT(2024, 1, 1, 1, 0))],  # exactly on a boundary
        "event_id long, user_id long, ts timestamp")
    base = DT(2024, 1, 1).timestamp()

    def iv(u, s_min, e_min, tag):
        return (u, base + s_min * 60, base + e_min * 60, tag)

    intervals = spark.createDataFrame(
        [iv(1, 0, 45, "a"), iv(2, 0, 20, "b"), iv(2, 10, 60, "c")],
        "user_id long, start_ep double, end_ep double, tag string")

    def rows(df):
        return sorted((r.event_id, r.tag) for r in df.collect())

    plain = rows(interval_join(ev, intervals))
    assert plain == [(1, "a"), (2, "a"), (4, "b"), (4, "c"),
                     (5, "c")]
    for b in (60, 600, 3600, 7200):
        assert rows(interval_join(ev, intervals, bucket_sec=b)) \
            == plain, b


def test_bucketed_triples_join_has_no_exchange(spark, tmpdir_path):
    """Bucketed materialization makes the s-s self-join (path join)
    exchange-free — the co-located layout the scale design assumes."""
    from serd_spark.operators.materialize import write_bucketed_triples
    from serd_spark.operators.parse import (
        parse_ntriples_lines,
        split_quarantine,
    )
    from serd_spark.transcripts import transcripts_df

    tdf = spark.createDataFrame(
        [("c1", i, "user",
          f"<http://a/s{i % 7}> <http://a/p{i}> <http://a/o{i}> .",
          None, None) for i in range(50)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    triples, _ = split_quarantine(parse_ntriples_lines(tdf))

    write_bucketed_triples(triples, "t_bucketed", n_buckets=4)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # disable broadcast so the plan shows the big-table shape (two
    # bucketed scans feeding SortMergeJoin); with broadcast the
    # planner rightly ignores bucketing for a tiny table
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        t = spark.table("t_bucketed")
        j = t.alias("a").join(t.alias("b"), "s") \
            .select(F.col("a.p"), F.col("b.o"))
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan, plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_bucketed")


def test_bgp_bucketed_star_has_no_exchange(spark, tmpdir_path):
    """The star-pattern scale claim, verified in the plan: over a
    subject-bucketed triple table, the n-way star join runs with NO
    Exchange on any arm (each arm filters one predicate off the same
    bucketed scan and joins on the bucket column s)."""
    from serd_spark.operators.kg import bgp
    from serd_spark.operators.materialize import write_bucketed_triples
    from serd_spark.operators.parse import (
        parse_ntriples_lines,
        split_quarantine,
    )

    tdf = spark.createDataFrame(
        [("c1", i, "user",
          f"<http://a/s{i % 9}> <http://a/{'p' if i % 2 else 'q'}> "
          f"<http://a/o{i}> .", None, None) for i in range(60)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    triples, _ = split_quarantine(parse_ntriples_lines(tdf))
    write_bucketed_triples(triples, "t_star_bucketed", n_buckets=4)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        t = spark.table("t_star_bucketed")
        j = bgp(t, [("?s", "http://a/p", "?op"),
                    ("?s", "http://a/q", "?oq")])
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        assert "Bucketed: true" in plan, plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_star_bucketed")


def test_dup_clusters_matches_union_find(spark):
    """Min-label CC == a pure-Python union-find on chains, a triangle
    and a long adversarial path; the 31-node path needs 30 rounds, so
    the default backstop raises instead of mislabelling its tail."""
    from serd_spark.operators.dedup import dup_clusters

    edges = [(1, 2), (2, 3), (3, 4), (4, 5),
             (10, 11),
             (20, 21), (21, 22), (20, 22)]
    # adversarial 30-edge chain
    edges += [(100 + i, 101 + i) for i in range(30)]
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    want = {(d, find(d)) for d in parent}
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {(r.doc_id, r.cluster_id)
           for r in dup_clusters(pairs, max_iter=40).collect()}
    assert got == want
    assert all(c == 100 for d, c in got if d >= 100)
    with pytest.raises(RuntimeError, match="max_iter"):
        dup_clusters(pairs)




def test_salted_join_equals_plain_join(spark):
    """Salting is result-transparent: same rows as the plain join,
    with the hot key spread over n_salts sub-keys."""
    from serd_spark.operators.skew import salted_join

    # one hot key (90% of rows) + a long tail
    left = spark.createDataFrame(
        [(0 if i % 10 else i, i) for i in range(2000)], "k long, v long")
    right = spark.createDataFrame(
        [(i, f"dim{i}") for i in range(0, 2000, 7)], "k long, name string")
    plain = {tuple(r) for r in left.join(right, "k").collect()}
    salted = {tuple(r)
              for r in salted_join(left, right, "k", n_salts=8).collect()}
    assert salted == plain and plain
    # outer join parity too
    plain_l = left.join(right, "k", "left").count()
    salted_l = salted_join(left, right, "k", n_salts=8, how="left").count()
    assert salted_l == plain_l


def test_pii_scrub_masks_and_counts(spark):
    """Masking + typed counts on synthetic PII, with DuckDB parity on
    the same patterns (the documents table itself is PII-free, so the
    oracle row only proves pass-through; this proves the scrub)."""
    import duckdb

    from serd_spark.operators.text import PII_PATTERNS, pii_scrub

    rows = [
        (1, "mail me at jane.doe+x@example.co.uk or call +44 20 7946 0958"),
        (2, "server at 192.168.0.1 and 10.0.0.255, no mail"),
        (3, "clean text with nothing sensitive"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in pii_scrub(docs).collect()}
    assert got[1].n_email == 1 and got[1].n_phone == 1
    assert "<EMAIL>" in got[1].scrubbed and "<PHONE>" in got[1].scrubbed
    assert "jane" not in got[1].scrubbed and "0958" not in got[1].scrubbed
    assert got[2].n_ipv4 == 2 and got[2].scrubbed.count("<IP>") == 2
    assert got[3].scrubbed == rows[2][1]

    con = duckdb.connect()
    con.execute("CREATE TABLE d(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", rows)
    scrubbed = "text"
    for _, pat, repl in PII_PATTERNS:
        scrubbed = f"regexp_replace({scrubbed}, '{pat}', '{repl}', 'g')"
    want = dict(con.execute(
        f"SELECT doc_id, {scrubbed} FROM d").fetchall())
    for i in (1, 2, 3):
        assert got[i].scrubbed == want[i], i


def test_session_window_matches_gaps_and_islands(spark):
    """Spark's native session_window produces the same sessions as our
    gaps-and-islands formulation (two independent derivations of the
    same semantics cross-validate each other)."""
    from serd_spark.operators.sessions import sessionize

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ours = sessionize(ev, gap_sec=1800).select(
        "key", "n_events", "start_ep", "end_ep")
    native = (
        ev.groupBy("user_id",
                   F.session_window(F.col("ts").cast("timestamp"),
                                    "1800 seconds").alias("w"))
        .agg(F.count("*").cast("long").alias("n_events"),
             F.round(F.min(F.col("ts").cast("timestamp").cast("double")),
                     6).alias("start_ep"),
             F.round(F.max(F.col("ts").cast("timestamp").cast("double")),
                     6).alias("end_ep"))
        .select(F.col("user_id").alias("key"), "n_events",
                "start_ep", "end_ep")
    )
    a = {tuple(r) for r in ours.collect()}
    b = {tuple(r) for r in native.collect()}
    assert a == b and a


def test_dup_clusters_string_ids(spark):
    """Convergence witness must work for NON-numeric ids: a chain of
    string doc ids (diameter 4) needs several propagation rounds — a
    sum-based witness would see NULL==NULL and stop after one."""
    from serd_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
         ("x", "y")],
        "doc_a string, doc_b string")
    got = {(r.doc_id, r.cluster_id) for r in dup_clusters(pairs).collect()}
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("d", "a"),
                   ("e", "a"), ("x", "x"), ("y", "x")}


def test_asof_join_null_payload_not_torn(spark):
    """A matched right row carrying NULL in one payload column must
    match as a WHOLE row (merge_asof semantics): the NULL rides along,
    never back-filled from an older right row (torn match)."""
    from datetime import datetime as DT

    from serd_spark.operators.sessions import asof_join

    left = spark.createDataFrame(
        [(1, DT(2024, 1, 1, 10, 5), 100)],
        "event_id long, ts timestamp, user_id long")
    right = spark.createDataFrame(
        [(50, DT(2024, 1, 1, 10, 0), 100, 1.0),
         (51, DT(2024, 1, 1, 10, 2), 100, None)],  # latest, NULL value
        "event_id long, ts timestamp, user_id long, value double")
    r = asof_join(left, right.select("user_id", "ts", "event_id", "value"),
                  by="user_id", ts_col="ts",
                  right_cols=("event_id", "value")).collect()[0]
    assert r.event_id_r == 51
    assert r.value_r is None  # NOT 1.0 from row 50


def test_salted_join_rejects_outer_hows(spark):
    """Right/full outer joins would duplicate unmatched other-rows
    once per salt — salted_join must refuse them."""
    import pytest as _pytest

    from serd_spark.operators.skew import salted_join

    left = spark.range(4).withColumnRenamed("id", "k")
    right = spark.range(4).withColumnRenamed("id", "k")
    for how in ("right", "full", "outer", "full_outer", "right_outer"):
        with _pytest.raises(ValueError, match="salted_join"):
            salted_join(left, right, "k", n_salts=4, how=how)
    # semi/anti still work and match the plain join
    semi = salted_join(left.where("k < 2"), right, "k",
                       n_salts=4, how="left_semi").count()
    assert semi == 2


def test_fused_queries_single_scan_no_join(spark):
    """doc_length_profile, the stratified-sample contract query, and
    the fused exact_dedup_keep_best must compose lang_pred/quality as
    column expressions on ONE corpus scan — no doc_id self-join (the
    round-2 shape scanned documents twice and shuffled the full corpus
    through a hash join per query)."""
    import __spark_entry__ as E
    from serd_spark.operators.dedup import exact_dedup_keep_best
    from serd_spark.operators.text import doc_length_profile

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    from serd_spark.operators.text import clean_corpus

    for df in (
        doc_length_profile(docs),
        exact_dedup_keep_best(docs),
        clean_corpus(docs),
        E.retired_queries()["stratified_sample"](
            spark, "/root/testdata/sf0.001"),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the broadcast join with the tiny rate dim is the designed
        # shape for stratified_sample; what must be gone is any
        # shuffle join of the corpus with itself
        assert "SortMergeJoin" not in plan, plan
        assert "ShuffledHashJoin" not in plan, plan
        assert plan.count("documents.parquet") <= 1, plan
        assert df.count() >= 0


def test_keep_best_external_score_path_matches_fused(spark):
    """The two-DataFrame signature (scores from elsewhere) must agree
    with the fused single-scan path when the scores are the same."""
    from serd_spark.operators.dedup import exact_dedup_keep_best
    from serd_spark.operators.text import quality_features

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fused = {tuple(r) for r in exact_dedup_keep_best(docs).collect()}
    ext = {tuple(r) for r in
           exact_dedup_keep_best(docs, quality_features(docs)).collect()}
    assert fused == ext and fused


def test_doc_profile_approx_bounds_exact(spark):
    """percentile_approx (sketch mode) must stay within the
    Greenwald-Khanna rank-error bound of the exact profile: with
    accuracy A, the returned value's rank is within n/A of the target
    rank — at A=10000 and sf0.001 (500 docs) that is exact-or-adjacent
    order statistics, so values differ by at most one doc's length."""
    from serd_spark.operators.text import doc_length_profile

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = {r.lang_pred: r.asDict() for r in
             doc_length_profile(docs).collect()}
    approx = {r.lang_pred: r.asDict() for r in
              doc_length_profile(docs, approx=True).collect()}
    assert set(exact) == set(approx)
    for lang, ex in exact.items():
        ap = approx[lang]
        assert ex["n_docs"] == ap["n_docs"]
        assert ex["chars_min"] == ap["chars_min"]
        assert ex["chars_max"] == ap["chars_max"]
        assert ex["chars_mean"] == ap["chars_mean"]
        for name in ("chars", "toks"):
            for p in (50, 90, 99):
                e, a = ex[f"{name}_p{p}"], ap[f"{name}_p{p}"]
                # GK returns a real order statistic; exact percentile
                # interpolates between two — allow the span between
                # the neighboring order statistics (here: 15% rel.)
                assert abs(a - e) <= max(0.15 * abs(e), 2.0), (
                    lang, name, p, e, a)


def test_lsh_pairs_checkpoint_serves_both_consumers(spark, tmpdir_path):
    """The round-2 pipeline shape: materialize minhash_lsh_pairs ONCE
    via write_checkpoint; both downstream consumers (ngram_jaccard
    verify, dup_clusters CC) read the checkpoint instead of re-running
    LSH — their plans must scan the checkpoint parquet, not re-derive
    from documents, and results must match the recompute path."""
    import os

    from serd_spark.operators.dedup import (
        dup_clusters,
        minhash_lsh_pairs,
        ngram_jaccard,
    )
    from serd_spark.operators.materialize import (
        read_checkpoint,
        write_checkpoint,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = minhash_lsh_pairs(docs, n_bands=4, shingle_k=3, max_bucket=64)
    p = os.path.join(tmpdir_path, "lsh_pairs")
    info = write_checkpoint(pairs, p, "lsh_pairs")
    assert info["rows"] > 0

    ck = read_checkpoint(spark, p)
    # 1) one LSH computation serves both consumers: the consumers'
    # scans are the checkpoint files only (documents appears once, for
    # the shingle sets ngram_jaccard genuinely needs)
    jac = ngram_jaccard(docs, ck, shingle_k=3)
    jac_plan = jac._jdf.queryExecution().executedPlan().toString()
    assert "lsh_pairs" in jac_plan
    # two column-pruned scans (one shingle-set per pair side) are the
    # designed shape; what must NOT appear is the LSH banding rebuild
    # (no exploded-shingle aggregation in this plan)
    assert jac_plan.count("documents.parquet") == 2, jac_plan
    assert "minhash" not in jac_plan, jac_plan

    cc = dup_clusters(ck)
    # 2) results identical to the recompute path
    jac2 = ngram_jaccard(docs, pairs, shingle_k=3)
    assert ({tuple(r) for r in jac.collect()}
            == {tuple(r) for r in jac2.collect()})
    assert ({tuple(r) for r in cc.collect()}
            == {tuple(r) for r in dup_clusters(pairs).collect()})


def test_concat_chunk_plan_straddles_boundaries(spark):
    """Packing: docs straddle chunk cuts; global prefix sum via the
    two-pass partition-offset scheme must equal the single-window
    definition exactly."""
    from serd_spark.operators.packing import concat_chunk_plan

    # token counts 3,4,2,5 with ctx=4:
    # starts 0,3,7,9; ends 2,6,8,13
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f g"), (3, "h i"), (4, "j k l m n")],
        "doc_id long, text string")
    got = {r.doc_id: (r.tok_start, r.chunk_first, r.chunk_last)
           for r in concat_chunk_plan(docs, ctx_len=4).collect()}
    assert got == {1: (0, 0, 0),
                   2: (3, 0, 1),   # straddles chunks 0-1
                   3: (7, 1, 2),   # straddles 1-2
                   4: (9, 2, 3)}   # straddles 2-3


def test_global_cumsum_matches_window(spark):
    """Distributed prefix sum == plain global window on a corpus big
    enough to span many range partitions."""
    from pyspark.sql import Window

    from serd_spark.operators.packing import global_cumsum

    df = spark.range(10000).select(
        F.col("id").alias("k"), (F.col("id") % 7 + 1).alias("v"))
    got = {r.k: r.cum for r in
           global_cumsum(df, "v", "k", n_partitions=16).collect()}
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = {r.k: r.cum for r in
            df.withColumn("cum", F.sum("v").over(w)).collect()}
    assert got == want


def test_global_cumsum_negative_values(spark):
    """Partition offsets must come from SUM(value), not max of the
    running sum — they differ when deltas are negative (e.g. a
    credit/debit ledger), and the docstring promises a general exact
    running sum."""
    from pyspark.sql import Window

    from serd_spark.operators.packing import global_cumsum

    df = spark.range(5000).select(
        F.col("id").alias("k"),
        (F.when(F.col("id") % 3 == 0, -5).otherwise(2)).alias("v"))
    got = {r.k: r.cum for r in
           global_cumsum(df, "v", "k", n_partitions=16).collect()}
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = {r.k: r.cum for r in
            df.withColumn("cum", F.sum("v").over(w)).collect()}
    assert got == want


def test_contamination_flags_basic(spark):
    """Train docs sharing a 3-shingle with the eval set are flagged
    with the distinct-shingle hit count; clean docs are absent."""
    from serd_spark.operators.dedup import contamination_flags

    eval_docs = spark.createDataFrame(
        [(100, "the quick brown fox jumps")],
        "doc_id long, text string")
    train = spark.createDataFrame(
        [(1, "xx the quick brown fox yy"),   # 2 overlapping shingles
         (2, "totally unrelated content here"),
         (3, "quick brown fox jumps over")],  # 2 overlapping shingles
        "doc_id long, text string")
    got = {r.doc_id: r.n_hits for r in
           contamination_flags(train, eval_docs).collect()}
    assert got == {1: 2, 3: 2}


def test_extract_urls_and_domains(spark):
    from serd_spark.operators.text import domain_stats, extract_urls

    docs = spark.createDataFrame(
        [(1, "see http://a.example.com/x and https://b.org/p_q-r done"),
         (2, "http://a.example.com twice http://a.example.com/y"),
         (3, "no urls here"),
         (4, "cut at space http://c.net/a b and at quote http://d.io\"")],
        "doc_id long, text string")
    urls = {(r.doc_id, r.url, r.domain)
            for r in extract_urls(docs).collect()}
    assert (1, "http://a.example.com/x", "a.example.com") in urls
    assert (1, "https://b.org/p_q-r", "b.org") in urls
    assert (4, "http://c.net/a", "c.net") in urls       # path cut at space
    assert (4, "http://d.io", "d.io") in urls           # cut at quote
    assert not any(d == 3 for d, _, _ in urls)
    stats = {r.domain: (r.n_urls, r.n_docs)
             for r in domain_stats(docs).collect()}
    assert stats["a.example.com"] == (3, 2)


def test_ivf_assign_vectorized_matches_jvm(spark):
    """GEMM assignment == JVM expression assignment on the test
    embeddings (well-separated similarities; float-ulp ties are the
    only divergence mode and don't occur here)."""
    from serd_spark.operators.similarity import ivf_assign

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a_jvm, _ = ivf_assign(emb, n_cells=16)
    a_gemm, _ = ivf_assign(emb, n_cells=16, vectorized=True)
    jvm = {r.vec_id: r.cell for r in a_jvm.collect()}
    gemm = {r.vec_id: r.cell for r in a_gemm.collect()}
    assert jvm == gemm and jvm


def test_pagerank_matches_numpy_power_iteration(spark):
    """5 fixed rounds on a small asymmetric graph must equal a numpy
    power iteration of the same update rule to 1e-9."""
    import numpy as np

    from serd_spark.operators.graph import pagerank

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 3), (5, 6)],
        "doc_a long, doc_b long")
    got = {r.doc_id: r.rank for r in pagerank(pairs, n_iter=5).collect()}

    nodes = [1, 2, 3, 4, 5, 6]
    idx = {v: i for i, v in enumerate(nodes)}
    edges = [(1, 2), (2, 3), (3, 4), (1, 3), (5, 6)]
    sym = set()
    for a, b in edges:
        sym.add((a, b))
        sym.add((b, a))
    n = len(nodes)
    od = {v: sum(1 for u, _ in sym if u == v) for v in nodes}
    r = np.full(n, 1.0 / n)
    for _ in range(5):
        nxt = np.full(n, 0.15 / n)
        for u, v in sym:
            nxt[idx[v]] += 0.85 * r[idx[u]] / od[u]
        r = nxt
    for v in nodes:
        assert abs(got[v] - _rank_e4_py(float(r[idx[v]]))) < 1e-9, v


def _rank_e4_py(x: float) -> float:
    """Python mirror of graph._rank_e4: round-6 (HALF_UP via Decimal
    — builtin round() is banker's and would diverge from Spark's
    BigDecimal HALF_UP exactly at the half-boundaries this grain
    defends), scale to near-integer ppm, floor-divide to e-4."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    r6 = float(Decimal(repr(x)).quantize(Decimal("0.000001"),
                                         rounding=ROUND_HALF_UP))
    return math.floor(round(r6 * 1e6) / 100) / 1e4


def test_pagerank_rounding_survives_summation_order(spark):
    """The defused knife-edge: the oracle (and any repartitioning)
    sums per-node contributions in a DIFFERENT float order than the
    JVM.  Emulate the worst case — forward vs reversed edge-order
    accumulation on a denser random graph — and require that the 4-dp
    grain the operator emits is identical under both orders AND equal
    to Spark's output.  At round(…, 6) this family was one summation
    reorder away from a hash flip; at 4 dp the boundary is ~7 orders
    of magnitude from the ~1e-12 accumulation drift."""
    import random

    import numpy as np

    from serd_spark.operators.graph import pagerank

    rng = random.Random(42)
    nodes = list(range(40))
    edges = sorted({(a, b) for a, b in
                    ((rng.randrange(40), rng.randrange(40))
                     for _ in range(300)) if a != b})
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.doc_id: r.rank for r in pagerank(df, n_iter=5).collect()}

    sym = sorted({(a, b) for a, b in edges} | {(b, a) for a, b in edges})
    present = sorted({x for e in sym for x in e})
    idx = {v: i for i, v in enumerate(present)}
    n = len(present)
    od = {v: sum(1 for u, _ in sym if u == v) for v in present}

    def power(order):
        r = np.full(n, 1.0 / n)
        for _ in range(5):
            nxt = np.full(n, 0.15 / n)
            for u, v in order:
                nxt[idx[v]] += 0.85 * r[idx[u]] / od[u]
            r = nxt
        return r

    fwd, rev = power(sym), power(list(reversed(sym)))
    for v in present:
        a = _rank_e4_py(float(fwd[idx[v]]))
        b = _rank_e4_py(float(rev[idx[v]]))
        assert a == b, (v, fwd[idx[v]], rev[idx[v]])
        assert abs(got[v] - a) < 1e-9, v


def test_funnel_ordering_semantics(spark):
    """Funnel steps must be STRICTLY ordered per user: a click before
    the first view doesn't count, and a purchase between view and
    click doesn't either."""
    from datetime import datetime as DT

    from serd_spark.operators.sessions import funnel_counts

    def e(i, u, t, typ):
        return (i, DT(2024, 1, 1, 0, t), u, typ, 0.0, "{}")

    rows = [
        # u1: clean view -> click -> purchase
        e(1, 1, 1, "view"), e(2, 1, 2, "click"), e(3, 1, 3, "purchase"),
        # u2: click BEFORE view, purchase after view: no click step
        e(4, 2, 1, "click"), e(5, 2, 2, "view"), e(6, 2, 3, "purchase"),
        # u3: purchase BETWEEN view and click: purchase step not after
        # the click conversion
        e(7, 3, 1, "view"), e(8, 3, 2, "purchase"), e(9, 3, 3, "click"),
        # u4: view only
        e(10, 4, 1, "view"),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
              " event_type string, value double, props string")
    got = {r.step_name: r.n_users for r in
           funnel_counts(events, ["view", "click", "purchase"])
           .collect()}
    assert got == {"view": 4, "click": 2, "purchase": 1}


def test_funnel_conversion_window_bounds_step_gaps(spark):
    """max_gap_days bounds each step-k conversion relative to the
    step-(k-1) conversion time: a click 3 days after the view falls
    out of a 2-day window but stays in an unbounded/4-day one, and
    the bound is per-adjacent-pair (a fast purchase after a slow
    click still needs the click to have converted)."""
    from datetime import datetime as DT

    from serd_spark.operators.sessions import funnel_counts

    rows = [
        # u1: view day1, click day2, purchase day3 — all gaps 1 day
        (1, DT(2024, 1, 1), 1, "view", 0.0, "{}"),
        (2, DT(2024, 1, 2), 1, "click", 0.0, "{}"),
        (3, DT(2024, 1, 3), 1, "purchase", 0.0, "{}"),
        # u2: view day1, click day4 (gap 3d), purchase day4.5
        (4, DT(2024, 1, 1), 2, "view", 0.0, "{}"),
        (5, DT(2024, 1, 4), 2, "click", 0.0, "{}"),
        (6, DT(2024, 1, 4, 12), 2, "purchase", 0.0, "{}"),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
              " event_type string, value double, props string")
    steps = ["view", "click", "purchase"]

    def run(gap):
        return {r.step_name: r.n_users for r in
                funnel_counts(events, steps, max_gap_days=gap)
                .collect()}

    assert run(None) == {"view": 2, "click": 2, "purchase": 2}
    # 2-day window: u2's 3-day view->click gap drops, and with it the
    # downstream purchase even though its own gap is half a day
    assert run(2) == {"view": 2, "click": 1, "purchase": 1}
    assert run(4) == {"view": 2, "click": 2, "purchase": 2}


def test_winnowing_shared_run_guarantee(spark):
    """The winnowing guarantee: two documents sharing a token run of
    length >= w + k - 1 (= 6 here) must share a fingerprint; fully
    disjoint documents share none."""
    from serd_spark.operators.text import winnowing_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"   # 6 tokens
    docs = spark.createDataFrame(
        [(1, "p1 p2 " + shared + " s1 s2"),
         (2, "q1 " + shared + " r1 r2 r3"),
         (3, "u1 u2 u3 u4 u5 u6 u7 u8")],
        "doc_id long, text string")
    fps = winnowing_fingerprints(docs, k=3, w=4)
    by = {i: {r.fp for r in fps.where(F.col("doc_id") == i).collect()}
          for i in (1, 2, 3)}
    assert by[1] & by[2], "shared 6-token run must share a fingerprint"
    assert not (by[1] & by[3]) and not (by[2] & by[3])


def test_winnowing_matches_pairs_shared_runs(spark):
    """Cross-doc matching: two docs sharing a >= w+k-1 token run pair
    up with n_shared >= 1 and correct per-side set sizes; a disjoint
    doc pairs with nobody; a boilerplate fingerprint occurring in
    more docs than max_bucket is dropped from pairing (the hot-bucket
    cap) while n_a/n_b still count the full sets; and the plan has no
    cartesian product."""
    from serd_spark.operators.text import (
        winnowing_fingerprints,
        winnowing_matches,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [(1, "p1 p2 p3 " + shared + " s1 s2 s3"),
         (2, "q1 q2 " + shared + " r1 r2 r3 r4"),
         (3, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10")],
        "doc_id long, text string")
    got = winnowing_matches(docs, k=3, w=4, min_shared=1)
    rows = {(r.doc_a, r.doc_b): r for r in got.collect()}
    assert set(rows) == {(1, 2)}
    sizes = {r.doc_id: r[1] for r in
             winnowing_fingerprints(docs, k=3, w=4)
             .groupBy("doc_id").count().collect()}
    assert rows[(1, 2)].n_a == sizes[1]
    assert rows[(1, 2)].n_b == sizes[2]
    assert rows[(1, 2)].n_shared >= 1

    # hot-bucket cap: the same boilerplate in 3 docs, cap at 2 —
    # every shared fingerprint sits in a 3-doc bucket, so no pairs
    boiler = spark.createDataFrame(
        [(i, "one two three four five six seven") for i in (1, 2, 3)],
        "doc_id long, text string")
    assert winnowing_matches(boiler, k=3, w=4, min_shared=1,
                             max_bucket=2).count() == 0
    # with the cap lifted the three pairs appear
    assert winnowing_matches(boiler, k=3, w=4, min_shared=1,
                             max_bucket=64).count() == 3

    plan = winnowing_matches(docs, k=3, w=4) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_label_propagation_matches_sync_rule(spark):
    """Deterministic sync LPA equals a straight Python mirror of the
    rule (neighbor-majority, ties to smallest label) on a barbell
    graph for 1..3 rounds — and after 3 rounds the two triangles
    keep distinct communities where CC would merge them through the
    bridge."""
    from serd_spark.operators.dedup import dup_clusters
    from serd_spark.operators.graph import label_propagation

    edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    adj: dict[int, list] = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)

    def mirror(rounds):
        lbl = {v: v for v in adj}
        for _ in range(rounds):
            nxt = {}
            for v in adj:
                counts: dict[int, int] = {}
                for nb in adj[v]:
                    counts[lbl[nb]] = counts.get(lbl[nb], 0) + 1
                nxt[v] = min(counts,
                             key=lambda l: (-counts[l], l))
            lbl = nxt
        return lbl

    for rounds in (1, 2, 3):
        got = {r.doc_id: r.label
               for r in label_propagation(df, n_rounds=rounds)
               .collect()}
        assert got == mirror(rounds), rounds

    final = {r.doc_id: r.label
             for r in label_propagation(df, n_rounds=3).collect()}
    assert len({final[1], final[4]}) == 2  # two communities survive
    cc = {r.doc_id: r.cluster_id for r in dup_clusters(df).collect()}
    assert len(set(cc.values())) == 1     # CC merges via the bridge


def test_tfidf_cosine_discounts_boilerplate(spark):
    """Weighted verify semantics: a pair sharing only a term present
    in EVERY doc (idf = 0) scores ~0; a pair sharing a rare term
    scores high; values match a numpy tf-idf computation."""
    import math

    from serd_spark.operators.dedup import tfidf_cosine_pairs

    rows = [(1, "common rareterm alpha"),
            (2, "common rareterm beta"),
            (3, "common gamma delta"),
            (4, "common epsilon zeta")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(1, 2), (3, 4)], "doc_a long, doc_b long")
    got = {(r.doc_a, r.doc_b): r.cosine
           for r in tfidf_cosine_pairs(docs, pairs).collect()}

    n = 4
    dfc: dict[str, int] = {}
    for _, t in rows:
        for tok in set(t.split()):
            dfc[tok] = dfc.get(tok, 0) + 1
    vecs = {}
    for i, t in rows:
        w = {}
        for tok in t.split():
            w[tok] = w.get(tok, 0) + 1
        vecs[i] = {tok: c * math.log(n / dfc[tok])
                   for tok, c in w.items()}

    def cos(a, b):
        dot = sum(vecs[a][t] * vecs[b][t]
                  for t in set(vecs[a]) & set(vecs[b]))
        na = math.sqrt(sum(x * x for x in vecs[a].values()))
        nb = math.sqrt(sum(x * x for x in vecs[b].values()))
        return round(dot / (na * nb), 6)

    assert abs(got[(1, 2)] - cos(1, 2)) < 1e-9
    assert abs(got[(3, 4)] - cos(3, 4)) < 1e-9
    assert got[(1, 2)] > 0.1          # rare shared term contributes
    assert got[(3, 4)] == 0.0         # only the idf-0 term shared


def test_prefix_filter_completeness_vs_brute_force(spark):
    """The PPJoin guarantee: prefix filtering finds EVERY pair with
    token-Jaccard >= tau — compare against brute-force all-pairs on a
    randomized fixture (both the pair set and the jaccard values),
    at two thresholds."""
    import itertools
    import random

    from serd_spark.operators.dedup import prefix_filter_pairs

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(40):
        base = rng.sample(vocab, rng.randint(4, 12))
        rows.append((i, " ".join(base)))
        if rng.random() < 0.4:  # planted near-dup with small edits
            mut = list(base)
            if len(mut) > 4 and rng.random() < 0.5:
                mut[rng.randrange(len(mut))] = rng.choice(vocab)
            rows.append((100 + i, " ".join(mut)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    sets = {i: set(t.split()) for i, t in rows}
    for tau in (0.6, 0.8):
        want = {}
        for a, b in itertools.combinations(sorted(sets), 2):
            j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
            if round(j, 6) >= tau:
                want[(a, b)] = round(j, 6)
        got = {(r.doc_a, r.doc_b): r.jaccard
               for r in prefix_filter_pairs(docs, tau=tau).collect()}
        assert got == want and got, tau


def test_simhash_pairs_complete_vs_brute_force(spark):
    """The pigeonhole guarantee at thresholds beyond the default:
    with max_hamming+1 bands, EVERY pair within the threshold is
    found — compare against brute-force popcount over all signature
    pairs at h=3 and h=8 (the h=8 case needs 9 bands; a fixed 4-band
    scheme would silently drop pairs differing in 4-8 bits spread
    across all four bands)."""
    import itertools
    import random

    from serd_spark.operators.dedup import simhash, simhash_pairs

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(60)]
    rows = []
    for i in range(30):
        base = rng.sample(vocab, 20)
        rows.append((i, " ".join(base)))
        mut = list(base)
        for _ in range(rng.randint(1, 3)):
            mut[rng.randrange(len(mut))] = rng.choice(vocab)
        rows.append((100 + i, " ".join(mut)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {r.doc_id: r.simhash & (2**64 - 1)
            for r in simhash(docs).collect()}

    for h in (3, 8):
        want = {}
        for a, b in itertools.combinations(sorted(sigs), 2):
            d = bin(sigs[a] ^ sigs[b]).count("1")
            if d <= h:
                want[(a, b)] = d
        got = {(r.doc_a, r.doc_b): r.hamming
               for r in simhash_pairs(docs, max_hamming=h,
                                      max_bucket=10**6).collect()}
        assert got == want, h
        assert want, h  # fixture must actually exercise the bound


def test_simhash_pairs_finds_near_dups(spark):
    """Banded SimHash: a doc differing by one rare token from another
    lands within hamming 3 and pairs up; unrelated docs don't; every
    emitted hamming equals the true popcount of the sig xor."""
    from serd_spark.operators.dedup import simhash, simhash_pairs

    base = ("the quick brown fox jumps over the lazy dog while "
            "seventy distinct tokens pad the vector so one swapped "
            "word only nudges a few majority votes in the signature "
            "and the rest of the bits stay put across both documents")
    docs = spark.createDataFrame(
        [(1, base), (2, base.replace("nudges", "shifts")),
         (3, "completely different content about spark physical "
             "plans exchanges and adaptive query execution stages")],
        "doc_id long, text string")
    sigs = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    got = {(r.doc_a, r.doc_b): r.hamming
           for r in simhash_pairs(docs, max_hamming=8).collect()}
    for (a, b), hd in got.items():
        assert hd == bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1")
    assert (1, 2) in got
    assert not any(3 in p for p in got)


def test_random_project_paths_agree_and_preserve_distance(spark):
    """The JVM-exact path and the GEMM scale path produce the same
    projections to 6 dp; the plane matrix is a pure coordinate
    function (numpy mirror matches); and projections roughly preserve
    relative distances (a vector is closer to its near-neighbor than
    to an unrelated one after projection)."""
    import hashlib

    import numpy as np

    from serd_spark.operators.similarity import random_project

    rng = np.random.default_rng(3)
    base = rng.normal(size=32)
    vecs = {0: base, 1: base + rng.normal(scale=0.05, size=32),
            2: rng.normal(size=32)}
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<double>")

    jvm = {(r.vec_id, r.k): r.proj
           for r in random_project(emb, out_dim=6).collect()}
    gemm = {(r.vec_id, r.k): r.proj
            for r in random_project(emb, out_dim=6,
                                    vectorized=True).collect()}
    assert set(jvm) == set(gemm)
    for key in jvm:
        assert abs(jvm[key] - gemm[key]) < 2e-6, key

    P = np.array([[1.0 if int(hashlib.md5(
        f"rp:{k}:{i}".encode()).hexdigest()[0], 16) % 2 else -1.0
        for i in range(32)] for k in range(6)])
    for (vid, k), p in jvm.items():
        assert abs(p - round(float(vecs[vid] @ P[k]), 6)) < 1e-5

    pj = {i: np.array([jvm[(i, k)] for k in range(6)]) for i in vecs}
    assert (np.linalg.norm(pj[0] - pj[1])
            < np.linalg.norm(pj[0] - pj[2]))


def test_embedding_quantize_reconstruction(spark):
    """int8 quantization invariants: |x - q*scale/127| < scale/127
    for every component, q in [-127, 127], the max-|x| component maps
    to ±127 exactly, and zero/null vectors don't divide."""
    docs = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25, 0.0]),
         (2, [3.0, 2.9999, -3.0, 1.5]),
         (3, [0.0, 0.0, 0.0, 0.0]),
         (4, None)],
        "vec_id long, embedding array<double>")
    from serd_spark.operators.similarity import embedding_quantize

    out = {r.vec_id: r for r in embedding_quantize(docs).collect()}
    vecs = {1: [0.5, -1.0, 0.25, 0.0], 2: [3.0, 2.9999, -3.0, 1.5]}
    for vid, v in vecs.items():
        r = out[vid]
        mx = max(abs(x) for x in v)
        assert abs(r.scale - round(mx, 6)) < 1e-9
        for x, q in zip(v, r.qvec):
            assert -127 <= q <= 127
            assert abs(x - q * mx / 127) <= mx / 127 + 1e-12
    assert out[1].qvec[1] == -127 and out[2].qvec[0] == 127
    assert out[3].scale == 0.0 and out[3].qvec == [0, 0, 0, 0]
    assert out[4].scale is None and out[4].qvec is None


def test_sliding_chunks_window_semantics(spark):
    """Window arithmetic: starts advance by chunk-overlap; every
    token is covered; consecutive windows overlap by exactly
    `overlap` (except a shorter final tail); short docs yield one
    window; chunk text matches the token slice."""
    from serd_spark.operators.packing import sliding_chunks

    toks = [f"t{i}" for i in range(25)]
    docs = spark.createDataFrame(
        [(1, " ".join(toks)), (2, "a b c")],
        "doc_id long, text string")
    out = sorted(
        ((r.doc_id, r.chunk_idx, r.tok_start, r.n_tok, r.chunk_text)
         for r in sliding_chunks(docs, chunk_tokens=10,
                                 overlap=4).collect()))
    # doc 1: 25 tokens, step 6 -> windows at 0,6,12,18 (1+ceil(15/6))
    d1 = [o for o in out if o[0] == 1]
    assert [(o[2], o[3]) for o in d1] == [(0, 10), (6, 10), (12, 10),
                                          (18, 7)]
    for _, _, s, n, text in d1:
        assert text == " ".join(toks[s:s + n])
    covered = sorted({i for _, _, s, n, _ in d1 for i in range(s, s + n)})
    assert covered == list(range(25))
    assert [o[1:] for o in out if o[0] == 2] == [(0, 0, 3, "a b c")]


def test_ffd_pack_properties(spark):
    """No-split packing invariants: every doc packed exactly once;
    no bin over capacity; docs > ctx_len get solo overflow bins; the
    per-shard bin count respects the FFD guarantee (<= 11/9*OPT + 1
    with OPT >= ceil(total/ctx)); and the result is identical across
    input repartitionings (shard comes from the doc_id hash, not the
    physical partition)."""
    import math
    import random

    from serd_spark.operators.packing import ffd_pack

    rng = random.Random(7)
    rows = [(i, " ".join("w" for _ in range(rng.randint(5, 400))))
            for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ctx = 256
    out = ffd_pack(docs, ctx_len=ctx, n_shards=4).collect()

    assert sorted(r.doc_id for r in out) == list(range(200))
    lens = {i: len(t.split()) for i, t in rows}
    fill: dict[tuple, int] = {}
    for r in out:
        assert r.n_tok == lens[r.doc_id]
        assert r.overflow == (r.n_tok > ctx)
        fill[(r.shard, r.bin_idx)] = fill.get((r.shard, r.bin_idx), 0) \
            + r.n_tok
    for (sh, b), tot in fill.items():
        solo = [r for r in out if (r.shard, r.bin_idx) == (sh, b)]
        if not any(r.overflow for r in solo):
            assert tot <= ctx, (sh, b, tot)
        else:
            assert len(solo) == 1  # overflow docs pack alone

    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    for sh, rs in by_shard.items():
        n_bins = len({r.bin_idx for r in rs})
        opt_lb = max(math.ceil(sum(r.n_tok for r in rs) / ctx),
                     sum(1 for r in rs if r.n_tok >= ctx))
        assert n_bins <= math.ceil(11 / 9 * opt_lb) + 1, (sh, n_bins)

    again = ffd_pack(docs.repartition(13), ctx_len=ctx, n_shards=4) \
        .collect()
    key = lambda rs: sorted((r.doc_id, r.shard, r.bin_idx, r.overflow)
                            for r in rs)
    assert key(again) == key(out)


def test_bgp_two_hop_path_join(spark):
    """?a p1 ?b . ?b p2 ?c over a tiny triple table: only chains
    through the shared node qualify, duplicates collapse, and
    dangling edges (no second hop) drop out."""
    from serd_spark.operators.kg import bgp

    triples = spark.createDataFrame(
        [("o1", "cust", "c1"), ("o2", "cust", "c1"),
         ("o3", "cust", "c2"), ("o4", "other", "c1"),
         ("c1", "nation", "n1"), ("c3", "nation", "n2"),
         ("o1", "cust", "c1")],
        "s string, p string, o string")
    got = {tuple(r) for r in bgp(
        triples, [("?a", "cust", "?b"), ("?b", "nation", "?c")],
        select=["a", "c"]).collect()}
    assert got == {("o1", "n1"), ("o2", "n1")}


def test_bgp_profile_star_fanout(spark):
    """Star BGP joins all arms on the subject: a subject missing one
    predicate drops out, and multi-valued predicates fan out
    combinationally."""
    from serd_spark.operators.kg import bgp

    triples = spark.createDataFrame(
        [("o1", "status", "F"), ("o1", "status", "p1"),
         ("o1", "cust", "c1"),
         ("o2", "status", "O"),           # no cust -> dropped
         ("o3", "cust", "c3")],           # no status -> dropped
        "s string, p string, o string")
    got = {tuple(r) for r in bgp(
        triples, [("?s", "status", "?status"),
                  ("?s", "cust", "?cust")]).collect()}
    assert got == {("o1", "F", "c1"), ("o1", "p1", "c1")}


def test_domain_cooccurrence_caps_link_farms(spark):
    """Co-link edges count co-linking docs once per doc; a doc
    linking more domains than the cap contributes no pairs at all."""
    from serd_spark.operators.text import domain_cooccurrence

    farm = " ".join(f"http://spam{i}.example.com/x" for i in range(5))
    docs = spark.createDataFrame(
        [(1, "see http://a.com/1 and http://b.com/2"),
         (2, "see http://a.com/3 also http://b.com/4 http://a.com/5"),
         (3, "just http://a.com/solo"),
         (4, farm)],
        "doc_id long, text string")
    got = {(r.domain_a, r.domain_b): r.n_docs
           for r in domain_cooccurrence(docs, max_doc_domains=3)
           .collect()}
    # docs 1 and 2 co-link a.com+b.com (dup URL in doc 2 counts once);
    # doc 3 has no pair; doc 4's 5 domains exceed the cap of 3
    assert got == {("a.com", "b.com"): 2}


def test_lm_bigram_score_orders_fluency(spark):
    """Text built from corpus-frequent transitions must outscore a
    doc of the same length whose transitions never repeat."""
    from serd_spark.operators.text import lm_bigram_score

    fluent = "the cat sat on the mat"
    docs = spark.createDataFrame(
        [(i, fluent) for i in range(5)]
        + [(10, "zq xv wk jy hb gf")],
        "doc_id long, text string")
    got = {r.doc_id: r.lm_score for r in lm_bigram_score(docs).collect()}
    assert got[0] == got[4]            # identical docs, same score
    assert got[0] > got[10]            # frequent transitions win


def test_embedding_decontamination_exact_and_plan(spark):
    """The GEMM-candidates + JVM-verify decontamination equals the
    brute-force cross join, with no cartesian product and no
    SortMergeJoin (corpus never shuffles) in the plan."""
    from serd_spark.operators.similarity import (
        _dot,
        _norm,
        embedding_decontamination,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ev = emb.where(F.col("vec_id") % 9 == 0)
    tr = emb.where(F.col("vec_id") % 9 != 0)
    out = embedding_decontamination(tr, ev, tau=0.4)
    got = {(r.vec_id, r.eval_id, r.sim) for r in out.collect()}

    a = tr.select(F.col("vec_id").alias("vec_id"),
                  F.col("embedding").cast("array<double>").alias("va"))
    b = ev.select(F.col("vec_id").alias("eval_id"),
                  F.col("embedding").cast("array<double>").alias("vb"))
    sim = F.round(_dot(F.col("va"), F.col("vb"))
                  / (_norm(F.col("va")) * _norm(F.col("vb"))), 6)
    want = {(r.vec_id, r.eval_id, r.sim)
            for r in a.crossJoin(b).select("vec_id", "eval_id",
                                           sim.alias("sim"))
            .where(F.col("sim") >= 0.4).collect()}
    assert got == want and got

    plan = embedding_decontamination(tr, ev, tau=0.4) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, plan


def test_pagerank_weighted_matches_numpy(spark):
    """Weighted PageRank equals a straightforward numpy power
    iteration with proportional-to-weight contribution split."""
    from serd_spark.operators.graph import pagerank_weighted

    edges = [("a", "b", 3), ("a", "c", 1), ("b", "c", 2), ("c", "d", 5)]
    df = spark.createDataFrame(
        edges, "iri_a string, iri_b string, n_turns long")
    got = {r.node: r.rank
           for r in pagerank_weighted(df, n_iter=4).collect()}

    sym = edges + [(b, a, w) for a, b, w in edges]
    nodes = sorted({x for e in sym for x in e[:2]})
    idx = {v: i for i, v in enumerate(nodes)}
    wd = {v: sum(w for a, _, w in sym if a == v) for v in nodes}
    r = [1.0 / len(nodes)] * len(nodes)
    for _ in range(4):
        nxt = [0.15 / len(nodes)] * len(nodes)
        for a, b, w in sym:
            nxt[idx[b]] += 0.85 * r[idx[a]] * w / wd[a]
        r = nxt
    for v in nodes:
        assert abs(got[v] - _rank_e4_py(r[idx[v]])) < 1e-9, v
    # the heavy c-d edge must pull d above a (unweighted degree ties)
    assert got["d"] > got["a"]


def test_stratified_take_exact_counts_and_determinism(spark):
    """Quota sampling returns exactly min(quota, stratum size) rows
    per stratum; selection is identical across repartitionings; a
    different salt draws a different sample."""
    from serd_spark.operators.text import stratified_take

    docs = spark.createDataFrame(
        [(i, "a" if i % 3 else "b") for i in range(300)],
        "doc_id long, lang_pred string")
    counts = {"a": 50, "b": 5000}  # b has only 100 rows
    out = stratified_take(docs, counts)
    by = {r[0]: r[1] for r in
          out.groupBy("lang_pred").count().collect()}
    assert by == {"a": 50, "b": 100}

    again = stratified_take(docs.repartition(13), counts)
    assert ({tuple(r) for r in out.collect()}
            == {tuple(r) for r in again.collect()})

    other = stratified_take(docs, counts, salt="v2")
    a1 = {r.doc_id for r in out.where("lang_pred='a'").collect()}
    a2 = {r.doc_id for r in other.where("lang_pred='a'").collect()}
    assert a1 != a2


def test_triangle_counts_matches_bruteforce(spark):
    """Compact-forward triangle enumeration equals itertools brute
    force on a random-ish graph with hubs, cliques, and chains."""
    from itertools import combinations

    from serd_spark.operators.graph import triangle_counts

    edges = set()
    # a 5-clique, a chain, a hub, and pseudo-random extras
    for a, b in combinations(range(5), 2):
        edges.add((a, b))
    for i in range(10, 15):
        edges.add((i, i + 1))
    for i in range(20, 28):
        edges.add((5, i))
    for i in range(40):
        a, b = (i * 7) % 30, (i * 13 + 3) % 30
        if a != b:
            edges.add((min(a, b), max(a, b)))
    pairs = spark.createDataFrame(
        [(a, b) for a, b in sorted(edges)], "doc_a long, doc_b long")
    got = {r.doc_id: r.n_triangles
           for r in triangle_counts(pairs).collect()}

    want: dict = {}
    es = {(min(a, b), max(a, b)) for a, b in edges}
    nodes = sorted({x for e in es for x in e})
    for x, y, z in combinations(nodes, 3):
        if {(x, y), (x, z), (y, z)} <= es:
            for v in (x, y, z):
                want[v] = want.get(v, 0) + 1
    assert got == want and got


def test_cdc_chunks_insertion_locality(spark):
    """The point of content-defined boundaries: inserting tokens near
    the start of a document must leave the chunking of the unchanged
    tail intact (fixed-size chunking would re-align everything).  The
    edited doc must share most chunk hashes with the original."""
    from serd_spark.operators.dedup import cdc_chunks

    base = " ".join(f"w{i * 37 % 101}x{i}" for i in range(400))
    edited = "INSERTED tokens here " + base
    docs = spark.createDataFrame(
        [(1, base), (2, edited)], "doc_id long, text string")
    ch = cdc_chunks(docs, divisor=8)
    h1 = {r.chunk_hash for r in ch.where("doc_id = 1").collect()}
    h2 = {r.chunk_hash for r in ch.where("doc_id = 2").collect()}
    shared = len(h1 & h2)
    assert shared / len(h1) > 0.9, (shared, len(h1))
    # chunk text reassembles the document exactly, in chunk order
    rows = sorted(ch.where("doc_id = 1").collect(),
                  key=lambda r: r.chunk_idx)
    assert " ".join(r.chunk_text for r in rows) == base


def test_tfidf_topk_plan_and_values(spark):
    """tf-idf top-k: literal rank bound plans a Partial
    WindowGroupLimit below the exchange; scores match a hand
    computation on a tiny corpus."""
    import math

    from serd_spark.operators.text import tfidf_topk

    docs = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "banana cherry"),
         (3, "cherry cherry cherry date")],
        "doc_id long, text string")
    out = tfidf_topk(docs, k=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert any("WindowGroupLimit" in ln and "Partial" in ln
               for ln in plan.splitlines()), plan
    got = {(r.doc_id, r.term): (r.tf, r.tfidf, r.rank)
           for r in out.collect()}
    # doc 3: cherry tf=3 df=2 -> 3*ln(3/2); date tf=1 df=1 -> ln(3)
    assert got[(3, "cherry")] == (3, round(3 * math.log(3 / 2), 6), 1)
    assert got[(3, "date")] == (1, round(math.log(3.0), 6), 2)
    # apple appears only in doc 1: top term there
    assert got[(1, "apple")][2] == 1


def test_kcore_peel_clique_survives_chain_unravels(spark):
    """A 4-clique is its own 3-core; a chain has no 2-core and fully
    unravels within the fixed rounds."""
    from itertools import combinations

    from serd_spark.operators.graph import kcore_peel

    edges = [(a, b) for a, b in combinations(range(4), 2)]
    edges += [(10 + i, 11 + i) for i in range(6)]  # chain
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.doc_id: r.degree
           for r in kcore_peel(pairs, k=3, n_rounds=3).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}
    # k=2: the clique survives whole; the 6-edge chain needs 3 peel
    # rounds to fully unravel (ends drop one per round from each side)
    got2 = {r.doc_id for r in
            kcore_peel(pairs, k=2, n_rounds=3).collect()}
    assert got2 == {0, 1, 2, 3}


def test_extract_relations_gap_pattern(spark):
    """Mention pairs emit typed triples iff the token gap matches a
    pattern; max_gap bounds the pair join; adjacent mentions match
    the empty-gap pattern."""
    from serd_spark.operators.kg import (
        detect_mentions,
        extract_relations,
        link_entities,
    )

    turns = spark.createDataFrame(
        [("c1", 0, "alice works at acme in berlin"),
         ("c2", 0, "bob acme"),                    # adjacent pair
         ("c3", 0, "alice x x x x x x x acme")],   # gap > max_gap
        "conv_id string, turn_idx int, text string")
    entities = spark.createDataFrame(
        [(1, "urn:p:alice", "alice", []), (2, "urn:p:bob", "bob", []),
         (3, "urn:o:acme", "acme", []), (4, "urn:l:berlin", "berlin", [])],
        "entity_id long, iri string, alias string, ctx array<string>")
    linked = link_entities(detect_mentions(turns, entities),
                           keep_toks=True)
    patterns = spark.createDataFrame(
        [("works at", "urn:rel:employed_by"),
         ("in", "urn:rel:located_in"),
         ("", "urn:rel:adjacent")],
        "gap_text string, pred string")
    got = {(r.conv_id, r.s, r.p, r.o)
           for r in extract_relations(linked, patterns).collect()}
    assert ("c1", "urn:p:alice", "urn:rel:employed_by",
            "urn:o:acme") in got
    assert ("c1", "urn:o:acme", "urn:rel:located_in",
            "urn:l:berlin") in got
    assert ("c2", "urn:p:bob", "urn:rel:adjacent", "urn:o:acme") in got
    # gap of 7 tokens exceeds max_gap=4: no c3 relation
    assert not any(k[0] == "c3" for k in got)


def test_dup_ngram_fraction_constructed(spark):
    """Docs sharing a 5-gram are flagged with the exact shared-shingle
    fraction; a unique doc reports zero."""
    from serd_spark.operators.dedup import dup_ngram_fraction

    shared = "one two three four five"
    docs = spark.createDataFrame(
        [(1, shared + " alpha beta"),        # 3 shingles, 1 shared
         (2, "x " + shared),                 # 2 shingles, 1 shared
         (3, "p q r s t u")],                # 2 shingles, 0 shared
        "doc_id long, text string")
    got = {r.doc_id: (r.n_shingles, r.n_dup_shingles, r.dup_fraction)
           for r in dup_ngram_fraction(docs, shingle_k=5).collect()}
    assert got[1] == (3, 1, round(1 / 3, 6))
    assert got[2] == (2, 1, 0.5)
    assert got[3] == (2, 0, 0.0)


def test_stratified_take_plan_window_group_limit(spark):
    """The quota filter's literal conjunct must trigger Catalyst's
    WindowGroupLimit rewrite with a PARTIAL (pre-shuffle) node: each
    map task then forwards at most max-quota rows per stratum instead
    of the whole corpus sorting through one reducer per stratum —
    the difference between a scan-bounded plan and a single-task sort
    at 100 TB."""
    from serd_spark.operators.text import stratified_take

    docs = spark.createDataFrame(
        [(i, "a" if i % 3 else "b") for i in range(300)],
        "doc_id long, lang_pred string")
    out = stratified_take(docs, {"a": 50, "b": 10})
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan
    # the Partial node must sit BELOW the hash exchange on the stratum
    partial = [ln for ln in plan.splitlines()
               if "WindowGroupLimit" in ln and "Partial" in ln]
    assert partial, plan
    # literal bound = the max quota across strata
    assert "50, Partial" in partial[0], partial[0]


def test_minhash_incremental_plan_no_corpus_selfjoin(spark):
    """Incremental LSH must broadcast the new batch's bands and never
    shuffle-join the corpus against itself."""
    from serd_spark.operators.dedup import minhash_lsh_pairs_incremental

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    new_docs = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    pairs = minhash_lsh_pairs_incremental(corpus, new_docs, n_bands=4)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    got = pairs.collect()
    assert all(r.doc_corpus % 10 != 0 and r.doc_new % 10 == 0
               for r in got)
    assert got


def test_global_cumsum_plan_no_global_window(spark):
    """The distributed prefix sum must window WITHIN range partitions
    (partitionBy _pid) — a window with an empty partition spec would
    collapse the corpus onto one task at scale."""
    from serd_spark.operators.packing import concat_chunk_plan

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = concat_chunk_plan(docs, ctx_len=512) \
        ._jdf.queryExecution().executedPlan().toString()
    for ln in plan.splitlines():
        if "windowspecdefinition(" in ln:
            assert "windowspecdefinition(_pid" in ln, ln
    assert "BroadcastHashJoin" in plan, plan  # the offset-table join


def test_compression_ratio_separates_boilerplate(spark):
    """Templated/repetitive text must compress far below high-entropy
    text; ratios are deterministic across runs (fixed zlib level)."""
    import hashlib

    from serd_spark.operators.text import compression_ratio

    entropy = " ".join(
        hashlib.sha256(str(i).encode()).hexdigest() for i in range(40))
    docs = spark.createDataFrame(
        [(1, "spam buy now! " * 200),
         (2, entropy),
         (3, "")],
        "doc_id long, text string")
    got = {r.doc_id: r.compress_ratio
           for r in compression_ratio(docs).collect()}
    assert got[1] < 0.05          # boilerplate collapses
    assert got[2] > 0.5           # high-entropy barely compresses
    assert got[3] == 1.0          # empty-text convention
    again = {r.doc_id: r.compress_ratio
             for r in compression_ratio(docs).collect()}
    assert got == again


def test_simhash_dropped_buckets_audit(spark):
    """simhash_dropped_buckets surfaces exactly the hot buckets the
    cap silently drops: a templated block of identical docs exceeds
    the cap (pairs missed, audit non-empty); with the cap raised the
    audit is empty and the pigeonhole pair set includes the block."""
    from serd_spark.operators.dedup import (
        simhash_dropped_buckets,
        simhash_pairs,
    )

    rows = [(i, "the exact same templated boilerplate text")
            for i in range(20)]
    rows += [(100 + i, f"unique document number {i} with words {i * 7}")
             for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # cap below the block size: all 4 bands of the 20 identical docs
    # are hot -> dropped; the identical pairs are MISSED
    dropped = simhash_dropped_buckets(docs, max_bucket=10).collect()
    assert dropped and all(r.n_docs == 20 for r in dropped)
    got = {(r.doc_a, r.doc_b)
           for r in simhash_pairs(docs, max_bucket=10).collect()}
    assert not any(a < 20 and b < 20 for a, b in got)

    # cap above the block size: audit empty, completeness restored
    assert not simhash_dropped_buckets(docs, max_bucket=32).collect()
    got = {(r.doc_a, r.doc_b)
           for r in simhash_pairs(docs, max_bucket=32).collect()}
    assert {(a, b) for a in range(20) for b in range(20) if a < b} \
        <= got


def test_tool_call_stats_profile(spark):
    """Per-tool stats: NULL-tool turns are ignored, the error flag
    is a text prefix, the gap is call→NEXT TURN (tool or not), and
    a conversation-final call counts in n_calls but not gap_turns."""
    from serd_spark.operators.analytics import tool_call_stats

    rows = [
        # conv, idx, role, text, tool, ts (epoch seconds)
        ("c1", 0, "assistant", "let me search", None, 100),
        ("c1", 1, "tool", "ok result", "search", 110),
        ("c1", 2, "assistant", "thanks", None, 140),
        ("c1", 3, "tool", "error: boom", "search", 150),
        ("c1", 4, "user", "retry", None, 155),
        ("c2", 0, "tool", "ok", "browse", 200),
        ("c2", 1, "tool", "Error: nope", "search", 260),  # final turn
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, "
              "text string, tool string, ts long") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    got = {r.tool: (r.n_calls, r.n_convs, r.err_ppm, r.gap_turns,
                    r.gap_sec_total)
           for r in tool_call_stats(df).collect()}
    # search: 3 calls over 2 convs; 2 of 3 error; gaps 30 + 5 (the
    # c2 final call has no next turn).
    assert got["search"] == (3, 2, 2 * 1000000 // 3, 2, 35)
    # browse: gap to the NEXT turn in c2 (also a tool turn): 60.
    assert got["browse"] == (1, 1, 0, 1, 60)

