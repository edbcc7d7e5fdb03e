"""Mention detection + entity-link scoring + triple emission
(SURVEY §7 item 4 — the transcript-KG north-star stages)."""

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.spark


def _entities(spark):
    # 'paris' is ambiguous: the city (ctx anchors it to 'france')
    # and the person (ctx 'hilton'); 'new york' is a 2-gram alias.
    rows = [
        (1, "urn:kg:city:paris", "paris", ["france", "seine"]),
        (2, "urn:kg:person:paris-hilton", "paris", ["hilton"]),
        (3, "urn:kg:city:nyc", "new york", ["usa"]),
        (4, "urn:kg:state:ny", "york", ["state"]),
    ]
    return spark.createDataFrame(
        rows, "entity_id long, iri string, alias string, "
              "ctx array<string>")


def _turns(spark):
    rows = [
        ("c1", 0, "paris is in france near the seine"),
        ("c1", 1, "paris hilton arrived"),
        ("c2", 0, "i moved to new york last year"),
        ("c2", 1, "nothing to see here"),
        ("c2", 2, "paris"),  # no context: specificity tie-break
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string")


def test_detect_mentions_positions_and_candidates(spark):
    from serd_spark.operators.kg import detect_mentions

    m = detect_mentions(_turns(spark), _entities(spark)).collect()
    by_turn = {}
    for r in m:
        by_turn.setdefault((r.conv_id, r.turn_idx), []).append(r)
    # 'paris' at c1/0 pos 0 has TWO candidates (ambiguous alias)
    cands = {r.entity_id for r in by_turn[("c1", 0)]}
    assert cands == {1, 2}
    # 'new york' detected as the 2-gram AND 'york' as a 1-gram
    kinds = {(r.n_gram, r.alias) for r in by_turn[("c2", 0)]}
    assert kinds == {(2, "new york"), (1, "york")}
    assert ("c2", 1) not in by_turn


def test_link_entities_context_specificity_and_longest_match(spark):
    from serd_spark.operators.kg import detect_mentions, link_entities

    m = detect_mentions(_turns(spark), _entities(spark))
    linked = link_entities(m).collect()
    got = {(r.conv_id, r.turn_idx): (r.entity_id, r.alias)
           for r in linked}
    # context disambiguates the shared alias
    assert got[("c1", 0)][0] == 1       # 'france','seine' -> city
    assert got[("c1", 1)][0] == 2       # 'hilton' -> person
    # no context: tie on ctx_hits + same specificity -> min entity_id
    assert got[("c2", 2)][0] == 1
    # longest-match: the 2-gram 'new york' suppresses 1-gram 'york'
    assert got[("c2", 0)] == (3, "new york")


def test_mentions_to_triples_shape(spark):
    from serd_spark.operators.kg import kg_entity_link_pipeline

    t = kg_entity_link_pipeline(_turns(spark), _entities(spark))
    rows = {(r.s, r.p, r.o) for r in t.collect()}
    assert ("urn:conv:c1:turn:0", "urn:kg:mentions",
            "urn:kg:city:paris") in rows
    assert ("urn:conv:c2:turn:0", "urn:kg:mentions",
            "urn:kg:city:nyc") in rows
    # a turn with no mentions emits nothing
    assert not any(s.endswith("c2:turn:1") for s, _, _ in rows)


def test_detect_single_scan_no_corpus_shuffle(spark):
    """The detect join must be map-side (broadcast dictionary): no
    shuffle join of the corpus, one scan."""
    from serd_spark.operators.kg import detect_mentions

    turns = _turns(spark)
    m = detect_mentions(turns, _entities(spark))
    plan = m._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_kg_pipeline_streaming_microbatch(spark, tmpdir_path):
    """The KG stages run under Structured Streaming: mention detect is
    stateless (explode + broadcast join, stream-compatible as-is);
    link scoring needs windows, so it runs per micro-batch via
    foreachBatch — the standard pattern for rank-within-batch logic.
    Output over all batches must equal the batch pipeline."""
    import os

    from serd_spark.operators.kg import kg_entity_link_pipeline

    inp = os.path.join(tmpdir_path, "kg_in")
    out = os.path.join(tmpdir_path, "kg_out")
    ckpt = os.path.join(tmpdir_path, "kg_ckpt")
    turns = _turns(spark)
    turns.write.parquet(inp)
    entities = _entities(spark)

    def handle(batch_df, _bid):
        kg_entity_link_pipeline(batch_df, entities) \
            .write.mode("append").parquet(out)

    q = (
        spark.readStream.schema(turns.schema).parquet(inp)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    want = {tuple(r) for r in
            kg_entity_link_pipeline(turns, entities).collect()}
    assert got == want and got


def test_relation_extraction_streaming_matches_batch(spark, tmpdir_path):
    """extract_relations under foreachBatch (detect → link(keep_toks)
    → relations per micro-batch) equals the batch pipeline — relations
    are turn-local, so micro-batching is invisible."""
    import os

    from serd_spark.operators.kg import (
        detect_mentions,
        extract_relations,
        link_entities,
    )

    turns = spark.createDataFrame(
        [(f"c{i}", 0,
          f"alice works at acme{i % 3} in berlin") for i in range(30)],
        "conv_id string, turn_idx int, text string")
    entities = spark.createDataFrame(
        [(1, "urn:p:alice", "alice", [])]
        + [(10 + j, f"urn:o:acme{j}", f"acme{j}", []) for j in range(3)]
        + [(4, "urn:l:berlin", "berlin", [])],
        "entity_id long, iri string, alias string, ctx array<string>")
    patterns = spark.createDataFrame(
        [("works at", "urn:rel:employed_by"),
         ("in", "urn:rel:located_in")],
        "gap_text string, pred string")

    def run(df):
        return extract_relations(
            link_entities(detect_mentions(df, entities),
                          keep_toks=True), patterns)

    inp = os.path.join(tmpdir_path, "rel_in")
    out = os.path.join(tmpdir_path, "rel_out")
    ckpt = os.path.join(tmpdir_path, "rel_ckpt")
    turns.repartition(5).write.parquet(inp)

    def handle(batch_df, _bid):
        run(batch_df).write.mode("append").parquet(out)

    q = (
        spark.readStream.schema(turns.schema)
        .option("maxFilesPerTrigger", 2).parquet(inp)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    want = {tuple(r) for r in run(turns).collect()}
    assert got == want and got


def test_aho_corasick_matches_bruteforce():
    """AC automaton output == per-pattern brute-force scan, including
    overlapping patterns, patterns-within-patterns, and repeats."""
    import re

    from serd_spark.operators.kg import AhoCorasick

    patterns = ["he", "she", "his", "hers", "a", "ab", "abc", "york",
                "new york"]
    ac = AhoCorasick(patterns)
    texts = ["ushers", "abcabcab", "a", "", "new york yorker",
             "shishershe", "xyz", "aaa", "new new york"]
    for text in texts:
        got = sorted(ac.finditer(text))
        want = sorted(
            (m.start(), p)
            for p in patterns
            for m in re.finditer("(?=" + re.escape(p) + ")", text))
        assert got == want, (text, got, want)


def test_detect_mentions_substring_and_linking(spark):
    """Substring detection finds non-token-aligned aliases the n-gram
    join cannot (alias inside a longer word), and link_entities'
    longest-match works at char granularity."""
    from serd_spark.operators.kg import (
        detect_mentions,
        detect_mentions_substring,
        link_entities,
    )

    ents = spark.createDataFrame(
        [(1, "urn:kg:city:nyc", "new york", ["usa"]),
         (2, "urn:kg:state:ny", "york", ["state"]),
         (3, "urn:kg:x:ample", "ample", ["x"])],
        "entity_id long, iri string, alias string, ctx array<string>")
    turns = spark.createDataFrame(
        [("c1", 0, "for example new york is big")],
        "conv_id string, turn_idx int, text string")

    m = detect_mentions_substring(turns, ents)
    found = {(r.alias, r.pos) for r in m.collect()}
    # 'ample' inside 'example' (char 6): invisible to the token join
    assert ("ample", 6) in found
    assert ("new york", 12) in found
    assert ("york", 16) in found
    tok = {r.alias for r in detect_mentions(turns, ents).collect()}
    assert "ample" not in tok  # the token join cannot see it

    linked = {(r.alias, r.entity_id)
              for r in link_entities(m).collect()}
    # char-granular longest-match: 'new york' suppresses inner 'york'
    assert ("new york", 1) in linked
    assert not any(a == "york" for a, _ in linked)
    assert ("ample", 3) in linked


def _triples_df(spark, rows):
    return spark.createDataFrame(rows, "s string, p string, o string")


# the 2-hop chain ?a p1 ?b . ?b p2 ?c (tests select (a, c))
_CHAIN = [("?a", "p1", "?b"), ("?b", "p2", "?c")]


def test_bgp_optional_arm_left_join(spark):
    """OPTIONAL arms keep subjects that lack the property (NULL in
    the optional column) and fill it where present — SPARQL OPTIONAL
    semantics, where an inner arm would drop the subject."""
    from serd_spark.operators.kg import bgp

    t = _triples_df(spark, [
        ("s1", "p1", "a"), ("s1", "p2", "b"), ("s1", "px", "X"),
        ("s2", "p1", "c"), ("s2", "p2", "d"),       # no px
        ("s3", "p1", "e"),                          # missing required p2
    ])
    got = {tuple(r) for r in bgp(
        t, [("?s", "p1", "?o1"), ("?s", "p2", "?o2")],
        optional=[[("?s", "px", "?x")]]).collect()}
    assert got == {("s1", "a", "b", "X"), ("s2", "c", "d", None)}


def test_bgp_optional_arm_fanout(spark):
    """Multiple values on an OPTIONAL arm fan out combinationally,
    same as required arms."""
    from serd_spark.operators.kg import bgp

    t = _triples_df(spark, [
        ("s1", "p1", "a"), ("s1", "px", "X"), ("s1", "px", "Y"),
    ])
    got = {tuple(r) for r in bgp(
        t, [("?s", "p1", "?o1")],
        optional=[[("?s", "px", "?opt1")]]).collect()}
    assert got == {("s1", "a", "X"), ("s1", "a", "Y")}


def test_bgp_over_bucketed_triples_exchange_free(spark):
    """The triple-store read path the 100 TB design claims: over a
    table materialized with write_bucketed_triples (bucketed+sorted
    by s), the WHOLE star — required arms, OPTIONAL arm, and the
    final distinct — plans with ZERO Exchange nodes (every join keys
    on s, the bucket column, and the distinct's grouping contains s),
    and the 2-hop path join needs strictly fewer exchanges than the
    same query over a plain parquet copy (its s-keyed side rides the
    buckets; only the o-keyed side and the distinct shuffle)."""
    from serd_spark.operators.kg import bgp, characteristic_sets
    from serd_spark.operators.materialize import write_bucketed_triples

    rows = [(f"s{i}", "p1", f"s{(i + 1) % 200}") for i in range(200)]
    rows += [(f"s{i}", p, f"{p}_v{i % 5}")
             for i in range(200) for p in ("p2", "p3")]
    t = spark.createDataFrame(rows, "s string, p string, o string")
    write_bucketed_triples(t, "t_bgp_plan_test", n_buckets=4)
    bt = spark.table("t_bgp_plan_test")

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        def plan(df):
            return df._jdf.queryExecution().executedPlan().toString()

        star = plan(bgp(bt, [("?s", "p1", "?o1"), ("?s", "p2", "?o2")],
                        optional=[[("?s", "p3", "?o3")]]))
        assert "Bucketed: true" in star, star
        assert star.count("Exchange") == 0, star
        assert "PushedFilters: [IsNotNull(p), EqualTo(p,p1)" in star
        # the OPTIONAL arm's predicate reaches its scan too
        assert "EqualTo(p,p3)" in star, star

        hop_bucketed = plan(bgp(bt, _CHAIN, select=["a", "c"]))
        assert "Bucketed: true" in hop_bucketed
        hop_plain = plan(bgp(t, _CHAIN, select=["a", "c"]))
        assert hop_bucketed.count("Exchange") \
            < hop_plain.count("Exchange"), (hop_bucketed, hop_plain)

        # NOT EXISTS rides the same bucket partitioning: zero Exchange
        ne = plan(bgp(bt, [("?s", "p2", "?o")],
                      not_exists=[[("?s", "p3", "?_x")]]))
        assert ne.count("Exchange") == 0, ne
        # characteristic sets: the subject-keyed agg is exchange-free;
        # only the tiny shape census shuffles
        cs = plan(characteristic_sets(bt))
        assert cs.count("Exchange") == 1, cs

        # same rows either way (the layout is a plan property only)
        got_b = {tuple(r)
                 for r in bgp(bt, _CHAIN, select=["a", "c"]).collect()}
        got_p = {tuple(r)
                 for r in bgp(t, _CHAIN, select=["a", "c"]).collect()}
        assert got_b == got_p and got_b
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_bgp_plan_test")


def test_bgp_filter_not_exists_semantics(spark):
    """NOT EXISTS keeps subjects lacking the negated predicate —
    including subjects with MULTIPLE values on the kept arm — and
    drops any subject carrying it, however many times."""
    from serd_spark.operators.kg import bgp

    t = _triples_df(spark, [
        ("s1", "p1", "a"), ("s1", "p1", "b"),          # no px: kept
        ("s2", "p1", "c"), ("s2", "px", "X"),           # has px: out
        ("s3", "p1", "d"), ("s3", "px", "X"), ("s3", "px", "Y"),
        ("s4", "p2", "e"),                              # no p1 arm
    ])
    got = {tuple(r) for r in bgp(
        t, [("?s", "p1", "?o")],
        not_exists=[[("?s", "px", "?_x")]]).collect()}
    assert got == {("s1", "a"), ("s1", "b")}


def test_characteristic_sets_census(spark):
    """Per-subject sorted predicate sets collapse to one row per
    schema shape with exact subject counts; duplicate (s, p) edges
    don't inflate the set."""
    from serd_spark.operators.kg import characteristic_sets

    t = _triples_df(spark, [
        ("s1", "b", "1"), ("s1", "a", "2"), ("s1", "a", "3"),
        ("s2", "a", "4"), ("s2", "b", "5"),
        ("s3", "a", "6"),
    ])
    got = {(r.char_set, r.n_subjects)
           for r in characteristic_sets(t).collect()}
    assert got == {("a|b", 2), ("a", 1)}


def test_bgp_path_chains_hops(spark):
    """A 3-hop sequence path chains only complete chains: a missing
    middle hop prunes the whole path, endpoints dedup, and a 1-pred
    path degenerates to the predicate's own (s, o) set."""
    from serd_spark.operators.kg import bgp_path

    t = _triples_df(spark, [
        ("o1", "cust", "c1"), ("c1", "nation", "n1"),
        ("n1", "region", "r1"),
        ("o2", "cust", "c2"), ("c2", "nation", "n2"),  # n2 dangles
        ("o3", "cust", "c1"),                           # shares chain
        ("o4", "other", "c1"),                          # wrong pred
    ])
    got = {(r.a, r.z) for r in bgp_path(
        t, ["cust", "nation", "region"]).collect()}
    assert got == {("o1", "r1"), ("o3", "r1")}
    one = {(r.a, r.z) for r in bgp_path(t, ["region"]).collect()}
    assert one == {("n1", "r1")}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="non-empty"):
        bgp_path(t, [])


def test_bgp_values_binds_inline_rows(spark):
    """VALUES matches the chosen triple side against the inline
    table's first column and carries the remaining bindings;
    unmatched triples drop; on='s' matches subjects instead."""
    from serd_spark.operators.kg import bgp_values

    t = _triples_df(spark, [
        ("o1", "status", "F"), ("o1", "status", "p1"),
        ("o2", "status", "O"), ("o3", "status", "P"),
        ("o1", "cust", "c1"),
    ])
    got = {(r.s, r.status, r.grade) for r in bgp_values(
        t, "status", [("F", "closed"), ("O", "open")],
        ["status", "grade"]).collect()}
    assert got == {("o1", "F", "closed"), ("o2", "O", "open")}
    by_s = {(r.o, r.subj, r.label) for r in bgp_values(
        t, "status", [("o1", "one")], ["subj", "label"],
        on="s").collect()}
    assert by_s == {("F", "o1", "one"), ("p1", "o1", "one")}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="'s' or 'o'"):
        bgp_values(t, "status", [("F",)], ["v"], on="p")
    with _pytest.raises(ValueError, match="non-empty"):
        bgp_values(t, "status", [], ["v"])
    with _pytest.raises(ValueError, match="value_cols"):
        bgp_values(t, "status", [("F", "x")], ["only_one"])


def test_bgp_values_broadcasts_inline_table(spark):
    """The inline table is literal-sized by construction, so the
    plan must probe it as a broadcast hash join — the corpus side
    never shuffles for the binding."""
    from serd_spark.operators.kg import bgp_values

    t = _triples_df(spark, [("o1", "status", "F")])
    plan = bgp_values(
        t, "status", [("F", "closed")], ["status", "grade"]
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_triple_pr_exact_ppm(spark):
    """P/R counts are set-semantics (duplicate triples count once)
    and the ppm columns are exact integer division."""
    from serd_spark.operators.kg import triple_pr

    emitted = _triples_df(spark, [
        ("s1", "p", "a"), ("s1", "p", "a"),   # dup: counts once
        ("s2", "p", "b"), ("s3", "p", "c"),
    ])
    expected = _triples_df(spark, [
        ("s1", "p", "a"), ("s2", "p", "b"),
        ("s4", "p", "d"), ("s5", "p", "e"),
    ])
    r = triple_pr(emitted, expected).collect()[0]
    assert (r.n_emitted, r.n_expected, r.n_matched) == (3, 4, 2)
    assert r.precision_ppm == 2 * 1000000 // 3
    assert r.recall_ppm == 500000


def test_triple_pr_identity_and_empty(spark):
    """A graph scored against itself is exactly 10^6 ppm both ways;
    an empty side yields 0 ppm instead of a division error."""
    from serd_spark.operators.kg import triple_pr

    g = _triples_df(spark, [("s1", "p", "a"), ("s2", "p", "b")])
    r = triple_pr(g, g).collect()[0]
    assert (r.precision_ppm, r.recall_ppm) == (1000000, 1000000)
    empty = g.where(F.col("s") == "nope")
    r2 = triple_pr(empty, g).collect()[0]
    assert (r2.n_emitted, r2.precision_ppm, r2.recall_ppm) == (0, 0, 0)
    r3 = triple_pr(g, empty).collect()[0]
    assert (r3.n_emitted, r3.n_expected,
            r3.precision_ppm, r3.recall_ppm) == (2, 0, 0, 0)


def test_bgp_path_inverse_and_alternation(spark):
    """``^p`` traverses object→subject and a list hop is SPARQL
    alternation ``(p1|p2)`` where each alternative keeps its own
    direction — ``["in", "^member"]`` reaches a nation from both a
    forward-stored supplier edge and a reverse-stored customer
    edge in ONE hop."""
    from serd_spark.operators.kg import bgp_path

    t = _triples_df(spark, [
        ("n1", "member", "c1"),          # nation→cust (reverse store)
        ("s1", "in", "n1"),              # supp→nation (forward)
        ("n1", "region", "r1"),
        ("n2", "member", "c2"), ("n2", "region", "r2"),
    ])
    inv = {(r.a, r.z) for r in bgp_path(
        t, ["^member", "region"]).collect()}
    assert inv == {("c1", "r1"), ("c2", "r2")}
    alt = {(r.a, r.z) for r in bgp_path(
        t, [["in", "^member"], "region"]).collect()}
    assert alt == {("c1", "r1"), ("c2", "r2"), ("s1", "r1")}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="non-empty"):
        bgp_path(t, [[], "region"])


def test_sameas_closure_merges_chains(spark):
    """A sameAs CHAIN (alt→alias→cust) collapses to one canonical
    (lexicographic min) id; data triples asserted under different
    aliases of the same entity dedup to ONE canonical triple; the
    sameAs statements themselves are consumed; non-aliased nodes
    pass through; object-side aliases rewrite too."""
    from serd_spark.operators.kg import sameas_closure

    SA = "http://www.w3.org/2002/07/owl#sameAs"
    t = _triples_df(spark, [
        ("b_alias", SA, "c_cust"),       # chain link 1
        ("a_alt", SA, "b_alias"),        # chain link 2 (transitive)
        ("c_cust", "owns", "x"),         # same fact under 2 aliases:
        ("b_alias", "owns", "x"),        #   must collapse to one row
        ("o1", "ref", "a_alt"),          # object-side rewrite
        ("plain", "p", "q"),             # untouched passthrough
    ])
    got = {(r.s, r.p, r.o) for r in sameas_closure(t).collect()}
    assert got == {
        ("a_alt", "owns", "x"),          # canonical = min of chain
        ("o1", "ref", "a_alt"),
        ("plain", "p", "q"),
    }


def test_graph_delta_add_del(spark):
    """The delta holds exactly the asserted and retracted triples
    (set semantics — duplicate rows count once), and unchanged
    triples are absent."""
    from serd_spark.operators.kg import graph_delta

    old = _triples_df(spark, [
        ("s1", "p", "a"), ("s2", "p", "b"), ("s2", "p", "b"),
        ("s3", "p", "c"),
    ])
    new = _triples_df(spark, [
        ("s1", "p", "a"),                 # unchanged
        ("s2", "p", "B"),                 # changed object: del+add
        ("s4", "p", "d"),                 # new
    ])
    got = {(r.s, r.p, r.o, r.change)
           for r in graph_delta(old, new).collect()}
    assert got == {
        ("s2", "p", "B", "add"), ("s4", "p", "d", "add"),
        ("s2", "p", "b", "del"), ("s3", "p", "c", "del"),
    }


def test_rdfs_entailment_rules(spark):
    """rdfs7 lifts statements through the subPropertyOf closure,
    rdfs2/3 type the subject/object of declared AND inferred
    statements, rdfs9 lifts types through the TRANSITIVE subClassOf
    closure; originals (TBox included) pass through and the result
    is a set."""
    from serd_spark.operators.kg import (
        NS_RDFS,
        RDF_TYPE,
        rdfs_entailment,
    )

    SC, SP = NS_RDFS + "subClassOf", NS_RDFS + "subPropertyOf"
    DOM, RNG = NS_RDFS + "domain", NS_RDFS + "range"
    tbox = [
        ("cust", SP, "party"),
        ("cust", DOM, "Order"), ("cust", RNG, "Customer"),
        ("Customer", SC, "Agent"), ("Agent", SC, "Party"),
    ]
    data = [("o1", "cust", "c1"), ("x", "other", "y")]
    t = _triples_df(spark, tbox + data)
    got = {(r.s, r.p, r.o) for r in rdfs_entailment(t).collect()}
    assert got == set(tbox) | set(data) | {
        ("o1", "party", "c1"),           # rdfs7
        ("o1", RDF_TYPE, "Order"),       # rdfs2
        ("c1", RDF_TYPE, "Customer"),    # rdfs3
        ("c1", RDF_TYPE, "Agent"),       # rdfs9 (1 hop)
        ("c1", RDF_TYPE, "Party"),       # rdfs9 (transitive)
        ("Customer", SC, "Party"),       # rdfs11 (schema closure)
    }


def test_rdfs_entailment_no_tbox_and_cap(spark):
    """A corpus with no schema triples passes through unchanged; a
    TBox larger than max_tbox raises instead of collecting it."""
    import pytest as _pytest

    from serd_spark.operators.kg import NS_RDFS, rdfs_entailment

    data = _triples_df(spark, [("a", "p", "b"), ("a", "p", "b")])
    got = {(r.s, r.p, r.o) for r in rdfs_entailment(data).collect()}
    assert got == {("a", "p", "b")}
    big = _triples_df(spark, [
        (f"c{i}", NS_RDFS + "subClassOf", f"d{i}") for i in range(5)])
    with _pytest.raises(ValueError, match="max_tbox"):
        rdfs_entailment(big, max_tbox=3)


def _brute_rdfs(triples):
    """Naive Python fixpoint over the ρDF rules — the oracle for the
    Spark materialization on randomized graphs."""
    from serd_spark.operators.kg import NS_RDFS, RDF_TYPE

    SC, SP = NS_RDFS + "subClassOf", NS_RDFS + "subPropertyOf"
    DOM, RNG = NS_RDFS + "domain", NS_RDFS + "range"
    out = set(triples)
    changed = True
    while changed:
        changed = False
        new = set()
        for (s, p, o) in out:
            for (a, q, b) in out:
                if q == SP and a == p:
                    new.add((s, b, o))
                if q == DOM and a == p:
                    new.add((s, RDF_TYPE, b))
                if q == RNG and a == p:
                    new.add((o, RDF_TYPE, b))
                if q == SC and p == RDF_TYPE and o == a:
                    new.add((s, RDF_TYPE, b))
                # rdfs5 / rdfs11: schema-chain transitivity
                if p in (SP, SC) and q == p and o == a and s != b:
                    new.add((s, p, b))
        if not new <= out:
            out |= new
            changed = True
    return out


def test_rdfs_entailment_matches_bruteforce_random(spark):
    """On seeded random graphs mixing schema and data triples —
    including subclass/subproperty CHAINS and domain/range on
    inferred properties — the one-pass broadcast materialization
    equals the naive Python fixpoint.

    (The naive rule engine also fires rules ON schema triples
    themselves — e.g. subPropertyOf chains lifting rdfs predicates —
    which the ρDF fragment excludes; the generator therefore never
    makes an rdfs predicate the SUBJECT of another schema triple,
    the standard separation in real ontologies.)"""
    import random

    from serd_spark.operators.kg import NS_RDFS, rdfs_entailment

    SC, SP = NS_RDFS + "subClassOf", NS_RDFS + "subPropertyOf"
    DOM, RNG = NS_RDFS + "domain", NS_RDFS + "range"
    for seed in (7, 41, 1999):
        rng = random.Random(seed)
        props = [f"p{i}" for i in range(4)]
        classes = [f"C{i}" for i in range(5)]
        nodes = [f"n{i}" for i in range(8)]
        tri = set()
        for _ in range(rng.randint(2, 5)):
            tri.add((rng.choice(props), SP, rng.choice(props)))
        for _ in range(rng.randint(2, 5)):
            tri.add((rng.choice(classes), SC, rng.choice(classes)))
        for _ in range(rng.randint(1, 3)):
            tri.add((rng.choice(props), DOM, rng.choice(classes)))
        for _ in range(rng.randint(1, 3)):
            tri.add((rng.choice(props), RNG, rng.choice(classes)))
        for _ in range(rng.randint(5, 12)):
            tri.add((rng.choice(nodes), rng.choice(props),
                     rng.choice(nodes)))
        got = {(r.s, r.p, r.o) for r in rdfs_entailment(
            _triples_df(spark, sorted(tri))).collect()}
        assert got == _brute_rdfs(tri), f"seed {seed}"


def test_sameas_closure_matches_bruteforce_random(spark):
    """On seeded random alias graphs (chains, cycles, diamonds) the
    distributed closure+rewrite equals a naive union-find rewrite."""
    import random

    from serd_spark.operators.kg import sameas_closure

    SA = "http://www.w3.org/2002/07/owl#sameAs"
    for seed in (3, 77, 4242):
        rng = random.Random(seed)
        nodes = [f"e{i}" for i in range(10)]
        sames = {(rng.choice(nodes), rng.choice(nodes))
                 for _ in range(rng.randint(3, 8))}
        sames = {(a, b) for a, b in sames if a != b}
        data = {(rng.choice(nodes), f"q{rng.randint(0, 2)}",
                 rng.choice(nodes)) for _ in range(rng.randint(4, 10))}
        # union-find reference
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in sames:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # canonical = min MEMBER of the component (only nodes that
        # appear in a sameAs statement are aliased)
        in_sa = {n for ab in sames for n in ab}
        members: dict = {}
        for n in in_sa:
            members.setdefault(find(n), set()).add(n)
        canon = {n: min(members[find(n)]) for n in in_sa}
        expected = {(canon.get(s, s), p, canon.get(o, o))
                    for (s, p, o) in data}
        tri = sorted(data | {(a, SA, b) for a, b in sames})
        got = {(r.s, r.p, r.o) for r in sameas_closure(
            _triples_df(spark, tri)).collect()}
        assert got == expected, f"seed {seed}"


def test_bgp_path_matches_bruteforce_random(spark):
    """Random graphs × random hop specs (forward / inverse /
    alternation): the chained-join path equals naive enumeration."""
    import random

    from serd_spark.operators.kg import bgp_path

    for seed in (11, 222, 3333):
        rng = random.Random(seed)
        nodes = [f"v{i}" for i in range(9)]
        preds = ["e", "f", "g"]
        tri = {(rng.choice(nodes), rng.choice(preds),
                rng.choice(nodes)) for _ in range(25)}
        spec = []
        for _ in range(rng.randint(1, 3)):
            arm = [rng.choice([p, "^" + p]) for p in
                   rng.sample(preds, rng.randint(1, 2))]
            spec.append(arm[0] if len(arm) == 1 else arm)

        def hop_pairs(h):
            alts = [h] if isinstance(h, str) else h
            out = set()
            for a in alts:
                if a.startswith("^"):
                    out |= {(o, s) for (s, p, o) in tri if p == a[1:]}
                else:
                    out |= {(s, o) for (s, p, o) in tri if p == a}
            return out

        exp = hop_pairs(spec[0])
        for h in spec[1:]:
            nxt = hop_pairs(h)
            exp = {(a, c) for (a, b) in exp for (b2, c) in nxt
                   if b == b2}
        got = {(r.a, r.z) for r in bgp_path(
            _triples_df(spark, sorted(tri)), spec).collect()}
        assert got == exp, f"seed {seed} spec {spec}"


def test_bgp_path_negated_property_set(spark):
    """``"!p"`` traverses forward edges with any OTHER predicate;
    ``"!^q"`` reverse edges except q; a mixed set has both arms;
    an empty set raises."""
    from serd_spark.operators.kg import bgp_path

    t = _triples_df(spark, [
        ("a", "p", "b"), ("a", "q", "c"), ("a", "r", "d"),
        ("e", "q", "a"),
    ])
    fwd = {(r.a, r.z) for r in bgp_path(t, ["!p"]).collect()}
    assert fwd == {("a", "c"), ("a", "d"), ("e", "a")}
    rev = {(r.a, r.z) for r in bgp_path(t, ["!^q"]).collect()}
    assert rev == {("b", "a"), ("d", "a")}
    mixed = {(r.a, r.z) for r in bgp_path(t, ["!q|^q"]).collect()}
    assert mixed == {("a", "b"), ("a", "d"),      # fwd != q
                     ("b", "a"), ("d", "a")}      # rev != q
    import pytest as _pytest
    with _pytest.raises(ValueError, match="negated"):
        bgp_path(t, ["!"])


def test_apply_delta_roundtrips_graph_delta(spark):
    """apply_delta(old, graph_delta(old, new)) reproduces new as a
    triple set; an empty delta is the identity."""
    from serd_spark.operators.kg import apply_delta, graph_delta

    old = _triples_df(spark, [
        ("s1", "p", "a"), ("s2", "p", "b"), ("s3", "p", "c"),
        ("s3", "p", "c"),
    ])
    new = _triples_df(spark, [
        ("s1", "p", "a"), ("s2", "p", "B"), ("s4", "p", "d"),
    ])
    got = {(r.s, r.p, r.o) for r in apply_delta(
        old, graph_delta(old, new)).collect()}
    assert got == {("s1", "p", "a"), ("s2", "p", "B"),
                   ("s4", "p", "d")}
    ident = {(r.s, r.p, r.o) for r in apply_delta(
        old, graph_delta(old, old)).collect()}
    assert ident == {("s1", "p", "a"), ("s2", "p", "b"),
                     ("s3", "p", "c")}


def test_bgp_describe_arms(spark):
    """DESCRIBE returns outgoing + incoming triples of the seed
    set (list or DataFrame seeds), dedups across arms, and the
    incoming arm is optional."""
    from serd_spark.operators.kg import bgp_describe

    t = _triples_df(spark, [
        ("n1", "p", "x"), ("y", "q", "n1"), ("n1", "r", "n1"),
        ("u", "p", "v"),
    ])
    both = {(r.s, r.p, r.o)
            for r in bgp_describe(t, ["n1"]).collect()}
    assert both == {("n1", "p", "x"), ("y", "q", "n1"),
                    ("n1", "r", "n1")}
    out_only = {(r.s, r.p, r.o) for r in bgp_describe(
        t, ["n1"], include_incoming=False).collect()}
    assert out_only == {("n1", "p", "x"), ("n1", "r", "n1")}
    seeds_df = spark.createDataFrame([("n1",), ("u",)],
                                     "node string")
    df_seeds = {(r.s, r.p, r.o)
                for r in bgp_describe(t, seeds_df).collect()}
    assert df_seeds == {("n1", "p", "x"), ("y", "q", "n1"),
                        ("n1", "r", "n1"), ("u", "p", "v")}


def test_rdfs_entailment_plan_broadcast_only(spark):
    """The corpus side of rdfs_entailment must never shuffle-join:
    every rule is a broadcast hash join against an ontology-sized
    closure map (the final distinct is the only exchange)."""
    from serd_spark.operators.kg import NS_RDFS, rdfs_entailment

    t = _triples_df(spark, [
        ("p0", NS_RDFS + "subPropertyOf", "p1"),
        ("p0", NS_RDFS + "domain", "C0"),
        ("p0", NS_RDFS + "range", "C1"),
        ("C1", NS_RDFS + "subClassOf", "C2"),
        ("a", "p0", "b"),
    ])
    plan = rdfs_entailment(t)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan


def test_bgp_construct_template_rewrite(spark):
    """CONSTRUCT applies every template row to every binding,
    supports ('lit', …) constants, dedups the result, and fails
    fast on a template naming a missing column."""
    from serd_spark.operators.kg import bgp_construct

    b = spark.createDataFrame(
        [("o1", "c1"), ("o2", "c1"), ("o2", "c1")],
        "order string, cust string")
    got = {(r.s, r.p, r.o) for r in bgp_construct(b, [
        ("cust", ("lit", "hasOrder"), "order"),
        (("lit", "root"), ("lit", "owns"), "cust"),
    ]).collect()}
    assert got == {
        ("c1", "hasOrder", "o1"), ("c1", "hasOrder", "o2"),
        ("root", "owns", "c1"),
    }
    import pytest as _pytest
    with _pytest.raises(ValueError, match="not in bindings"):
        bgp_construct(b, [("nope", ("lit", "p"), "order")])
    with _pytest.raises(ValueError, match="non-empty"):
        bgp_construct(b, [])


def test_bgp_ask_existence(spark):
    """ASK returns 1 iff a statement matches the pattern; subject
    and object constants narrow it.  Building the ASK plan starts no
    Spark job: the existence check runs only when the row is read."""
    from serd_spark.operators.kg import bgp_ask

    t = _triples_df(spark, [("a", "p", "b"), ("c", "q", "d")])
    tracker = spark.sparkContext.statusTracker()

    def last_job():
        return max(tracker.getJobIdsForGroup(None), default=-1)

    before = last_job()
    ask = bgp_ask(t, "p", s="a")
    assert last_job() == before
    assert ask.dtypes == [("ask", "bigint")]
    assert [tuple(r) for r in ask.collect()] == [(1,)]
    assert bgp_ask(t, "p").collect()[0].ask == 1
    assert bgp_ask(t, "z").collect()[0].ask == 0
    assert bgp_ask(t, "p", s="a", o="b").collect()[0].ask == 1
    assert bgp_ask(t, "p", s="c").collect()[0].ask == 0


def test_bfs_levels_max_iters_contract(spark):
    """ADVICE r6: exhausting max_iters with a non-empty frontier used
    to return a silently partial closure; it raises instead."""
    from serd_spark.operators.graph import bfs_levels

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src long, dst long")
    roots = spark.createDataFrame([(0,)], "node long")
    with pytest.raises(RuntimeError, match="max_iters"):
        bfs_levels(edges, roots, max_iters=3)
    full = {(r.node, r.level)
            for r in bfs_levels(edges, roots).collect()}
    assert full == {(i, i) for i in range(7)}
    # depth EXACTLY max_iters: complete closure, no false alarm (the
    # 6-edge chain finishes in 6 rounds; the loop exhausts on a
    # non-empty frontier that no longer expands)
    exact = {(r.node, r.level)
             for r in bfs_levels(edges, roots, max_iters=6).collect()}
    assert exact == full


def _chain_closure(spark, which: str, n_edges: int, k: int) -> tuple:
    """Run one closure over the chain 0 → 1 → … → ``n_edges`` with
    backstop ``k``; return (got, the full closure it must equal)."""
    from serd_spark.operators.dedup import dup_clusters
    from serd_spark.operators.graph import bfs_levels
    from serd_spark.operators.kg import bgp, bgp_path_quant, sameas_closure

    chain = [(i, i + 1) for i in range(n_edges)]
    if which == "bfs_levels":
        got = bfs_levels(
            spark.createDataFrame(chain, "src long, dst long"),
            spark.createDataFrame([(0,)], "node long"), max_iters=k)
        return ({(r.node, r.level) for r in got.collect()},
                {(i, i) for i in range(n_edges + 1)})
    if which == "dup_clusters":
        got = dup_clusters(
            spark.createDataFrame(chain, "doc_a long, doc_b long"),
            max_iter=k)
        return ({(r.doc_id, r.cluster_id) for r in got.collect()},
                {(i, 0) for i in range(n_edges + 1)})
    if which == "sameas_closure":
        same = [(f"n{a}", "http://www.w3.org/2002/07/owl#sameAs",
                 f"n{b}") for a, b in chain]
        data = [(f"n{i}", "p", f"v{i}") for i in range(n_edges + 1)]
        got = sameas_closure(_triples_df(spark, same + data), max_iter=k)
        return ({tuple(r) for r in got.collect()},
                {("n0", "p", f"v{i}") for i in range(n_edges + 1)})
    t = _triples_df(spark, [(f"n{a}", "e", f"n{b}") for a, b in chain])
    if which == "bgp_path_quant":
        got = bgp_path_quant(t, "e", 1, None, max_iters=k)
        return ({(r.a, r.z) for r in got.collect()},
                {(f"n{a}", f"n{b}") for a in range(n_edges + 1)
                 for b in range(a + 1, n_edges + 1)})
    got = bgp(t, [("n0", {"path": "e", "min": 1, "max": None,
                          "max_iters": k}, "?z")])
    return ({r.z for r in got.collect()},
            {f"n{b}" for b in range(1, n_edges + 1)})


@pytest.mark.parametrize("which, seed_len", [
    ("bfs_levels", 0), ("bgp_path_quant", 1), ("seeded_bgp_arm", 1),
    ("dup_clusters", 0), ("sameas_closure", 0)])
def test_closure_max_iters_contract(spark, which, seed_len):
    """Every convergence loop shares one exhaustion contract: a closure
    needing exactly ``max_iters`` rounds is returned complete (no false
    alarm from the exhausted loop), one round deeper raises.  The path
    closures start from the length-1 step pairs, so their chain is one
    edge longer than BFS's or min-label propagation's."""
    k = 3
    got, want = _chain_closure(spark, which, k + seed_len, k)
    assert got == want
    with pytest.raises(RuntimeError, match="max_iter"):
        _chain_closure(spark, which, k + seed_len + 1, k)


def test_write_bucketed_triples_rejects_bad_identifier(spark):
    """ADVICE r6: the table name reaches raw SQL and a warehouse
    path; non-identifier strings must be rejected, not interpolated."""
    from serd_spark.operators.materialize import write_bucketed_triples

    t = spark.createDataFrame([("a", "b", "c")],
                              "s string, p string, o string")
    for bad in ("x; DROP TABLE y", "../evil", "a.b.c", "", "1tbl",
                "tbl-name"):
        with pytest.raises(ValueError, match="identifier"):
            write_bucketed_triples(t, bad)


def test_bgp_path_quant_forms(spark):
    """p{n,m} / p? / p+ / p* on a chain plus a 2-cycle: bounded
    repetition enumerates exactly the in-range path lengths, the
    closure forms are cycle-safe, and the reflexive row binds every
    graph term."""
    from serd_spark.operators.kg import bgp_path_quant

    tri = [("a", "e", "b"), ("b", "e", "c"), ("c", "e", "d"),
           ("x", "e", "y"), ("y", "e", "x"), ("q", "f", "a")]
    t = _triples_df(spark, tri)
    terms = {s for (s, _, _) in tri} | {o for (_, _, o) in tri}
    ident = {(n, n) for n in terms}

    def got(n_min, n_max=None):
        return {(r.a, r.z) for r in
                bgp_path_quant(t, "e", n_min, n_max).collect()}

    step = {("a", "b"), ("b", "c"), ("c", "d"),
            ("x", "y"), ("y", "x")}
    plus = {("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
            ("b", "d"), ("c", "d"),
            ("x", "y"), ("y", "x"), ("x", "x"), ("y", "y")}
    assert got(2, 3) == {("a", "c"), ("b", "d"), ("x", "x"),
                         ("y", "y"), ("a", "d"), ("x", "y"),
                         ("y", "x")}
    assert got(0, 1) == ident | step          # p?
    assert got(1) == plus                     # p+
    assert got(0) == ident | plus             # p*
    assert got(0, 0) == ident                 # zero-length only
    assert got(3, 3) == {("a", "d"), ("x", "y"), ("y", "x")}

    with pytest.raises(ValueError, match="n_min"):
        bgp_path_quant(t, "e", -1, 2)
    with pytest.raises(ValueError, match="n_max"):
        bgp_path_quant(t, "e", 3, 2)
    with pytest.raises(ValueError, match="compose"):
        bgp_path_quant(t, "e", 2, None)

    # sparse data: no path reaches n_min -> EMPTY result, not a crash
    # ('f' has a single edge, so p{2,3} over it matches nothing)
    assert bgp_path_quant(t, "f", 2, 3).count() == 0
    assert bgp_path_quant(t, "nosuchpred", 1, 2).count() == 0


def test_bgp_path_quant_matches_bruteforce_random(spark):
    """Random graphs × random (n_min, n_max): quantified repetition
    equals naive per-length enumeration, and the unbounded closure
    equals the brute-force fixpoint."""
    import random

    from serd_spark.operators.kg import bgp_path_quant

    for seed in (5, 77, 901):
        rng = random.Random(seed)
        nodes = [f"v{i}" for i in range(8)]
        tri = {(rng.choice(nodes), "e", rng.choice(nodes))
               for _ in range(14)}
        t = _triples_df(spark, sorted(tri))
        edges = {(s, o) for (s, _, o) in tri}
        terms = {s for (s, _, _) in tri} | {o for (_, _, o) in tri}
        by_len = {1: set(edges)}
        for k in range(2, 6):
            by_len[k] = {(a, c) for (a, b) in by_len[k - 1]
                         for (b2, c) in edges if b == b2}
        lo = rng.randint(0, 3)
        hi = rng.randint(lo, 5)
        exp = set().union(*(by_len[k]
                            for k in range(max(lo, 1), hi + 1))) \
            if hi >= 1 else set()
        if lo == 0:
            exp |= {(n, n) for n in terms}
        got = {(r.a, r.z) for r in
               bgp_path_quant(t, "e", lo, hi).collect()}
        assert got == exp, f"seed {seed} range {lo},{hi}"

        closure = set(edges)
        while True:
            new = closure | {(a, c) for (a, b) in closure
                             for (b2, c) in edges if b == b2}
            if new == closure:
                break
            closure = new
        got_star = {(r.a, r.z) for r in
                    bgp_path_quant(t, "e", 0).collect()}
        assert got_star == closure | {(n, n) for n in terms}, seed


def test_bgp_minus_semantics(spark):
    """MINUS removes bindings compatible on the shared variables,
    returns the left side UNCHANGED on disjoint domains (the
    MINUS-vs-NOT-EXISTS distinction), and validates explicit on."""
    from serd_spark.operators.kg import bgp_minus

    left = spark.createDataFrame(
        [("s1", "a"), ("s2", "b"), ("s3", "c")], "s string, v string")
    pat = spark.createDataFrame(
        [("s2", "zz"), ("s9", "q")], "s string, other string")
    got = {(r.s, r.v) for r in bgp_minus(left, pat).collect()}
    assert got == {("s1", "a"), ("s3", "c")}

    # multi-column shared set: BOTH must match to remove
    pat2 = spark.createDataFrame(
        [("s1", "a"), ("s3", "zz")], "s string, v string")
    got2 = {(r.s, r.v) for r in bgp_minus(left, pat2).collect()}
    assert got2 == {("s2", "b"), ("s3", "c")}
    # restricting the shared set widens the removal
    got3 = {(r.s, r.v)
            for r in bgp_minus(left, pat2, on=["s"]).collect()}
    assert got3 == {("s2", "b")}

    disj = spark.createDataFrame([("x",)], "w string")
    assert bgp_minus(left, disj).count() == 3

    with pytest.raises(ValueError, match="missing"):
        bgp_minus(left, pat, on=["nope"])


def _quads_df(spark, rows):
    return spark.createDataFrame(
        rows, "g string, s string, p string, o string")


def test_bgp_graph_scoped_arms(spark):
    """GRAPH <iri> (constant filter) and GRAPH ?g (carry_graph) on
    the chain, star, OPTIONAL and NOT EXISTS shapes: arms must
    co-match within one named graph, and a triple-only table is
    rejected."""
    from serd_spark.operators.kg import bgp

    q2 = _quads_df(spark, [
        ("g1", "a", "p1", "b"), ("g1", "b", "p2", "c"),
        ("g2", "a", "p1", "b"), ("g2", "b", "p2", "w"),
    ])
    un = {(r.a, r.c)
          for r in bgp(q2, _CHAIN, select=["a", "c"]).collect()}
    assert un == {("a", "c"), ("a", "w")}  # cross-graph when unscoped
    g2 = {(r.a, r.c) for r in
          bgp(q2, _CHAIN, select=["a", "c"], graph="g2").collect()}
    assert g2 == {("a", "w")}
    carried = {(r.g, r.a, r.c) for r in
               bgp(q2, _CHAIN, select=["a", "c"],
                   carry_graph=True).collect()}
    assert carried == {("g1", "a", "c"), ("g2", "a", "w")}

    qs = _quads_df(spark, [
        ("g1", "s1", "p1", "v1"), ("g1", "s1", "p2", "u1"),
        ("g2", "s1", "p1", "v2"),  # no p2 in g2
    ])
    star = {tuple(r) for r in
            bgp(qs, [("?s", "p1", "?o1"), ("?s", "p2", "?o2")],
                carry_graph=True).collect()}
    assert star == {("g1", "s1", "v1", "u1")}
    star_opt = {tuple(r) for r in bgp(
        qs, [("?s", "p1", "?o1")], optional=[[("?s", "p2", "?opt1")]],
        carry_graph=True).collect()}
    assert star_opt == {("g1", "s1", "v1", "u1"),
                        ("g2", "s1", "v2", None)}

    qn = _quads_df(spark, [
        ("g1", "s2", "p1", "o1"),
        ("g2", "s2", "p1", "o2"), ("g2", "s2", "p3", "x"),
    ])
    absent_p3 = dict(patterns=[("?s", "p1", "?o")],
                     not_exists=[[("?s", "p3", "?_x")]])
    # unscoped: s2 has p3 SOMEWHERE -> dropped everywhere
    assert bgp(qn, **absent_p3).count() == 0
    ne = {tuple(r)
          for r in bgp(qn, **absent_p3, carry_graph=True).collect()}
    assert ne == {("g1", "s2", "o1")}  # absence is per named graph

    t = spark.createDataFrame([("a", "p1", "b")],
                              "s string, p string, o string")
    with pytest.raises(ValueError, match="'g' column"):
        bgp(t, _CHAIN, carry_graph=True)
    with pytest.raises(ValueError, match="'g' column"):
        bgp(t, [("?s", "p1", "?o1")], graph="g1")


def test_bgp_graph_const_exchange_free_over_buckets(spark):
    """A constant GRAPH filter keeps the star's join key at s, so
    over a subject-bucketed quad table the scoped star still plans
    with ZERO Exchange nodes and the g filter pushes to the scan."""
    from serd_spark.operators.kg import bgp
    from serd_spark.operators.materialize import write_bucketed_triples

    rows = [(f"g{i % 2}", f"s{i}", p, f"{p}v{i % 3}")
            for i in range(60) for p in ("p1", "p2")]
    q = _quads_df(spark, rows)
    write_bucketed_triples(q, "t_bgp_gplan_test", n_buckets=4)
    bt = spark.table("t_bgp_gplan_test")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = bgp(bt, [("?s", "p1", "?o1"), ("?s", "p2", "?o2")],
                 graph="g1")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 0, plan
        assert "EqualTo(g,g1)" in plan, plan
        got = {(r.s, r.o1, r.o2) for r in df.collect()}
        assert got == {(f"s{i}", f"p1v{i % 3}", f"p2v{i % 3}")
                       for i in range(60) if i % 2 == 1}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_bgp_gplan_test")


def test_bgp_minus_vs_not_exists_relation(spark):
    """The SPARQL-spec relationship between the two negation verbs on
    random graphs: over a single shared subject variable with both
    sides non-null, MINUS removes exactly the subjects the pattern
    binds — so it agrees with NOT EXISTS — while on DISJOINT domains
    they split (MINUS keeps everything, NOT EXISTS would not)."""
    import random

    from serd_spark.operators.kg import bgp, bgp_minus

    for seed in (3, 42):
        rng = random.Random(seed)
        rows = [(f"s{rng.randint(0, 12)}", rng.choice(["p1", "p2"]),
                 f"v{rng.randint(0, 4)}") for _ in range(40)]
        t = _triples_df(spark, sorted(set(rows)))
        ne = {tuple(r) for r in
              bgp(t, [("?s", "p1", "?v")],
                  not_exists=[[("?s", "p2", "?_x")]]).collect()}
        left = bgp(t, [("?s", "p1", "?v")])
        pat = bgp(t, [("?s", "p2", "?w")])
        mi = {tuple(r) for r in bgp_minus(left, pat).collect()}
        assert mi == ne, f"seed {seed}"


def test_bgp_path_quant_composes_with_bgp_path(spark):
    """The documented composition for p{2,}: bgp_path fixed prefix
    chained into bgp_path_quant's p+ equals brute-force 'length >= 2'
    enumeration on a DAG."""
    from serd_spark.operators.kg import bgp_path, bgp_path_quant

    # a DAG: layered edges only flow to higher layers (no cycles, so
    # brute force by composition terminates)
    tri = [("a", "e", "b"), ("a", "e", "c"), ("b", "e", "d"),
           ("c", "e", "d"), ("d", "e", "f")]
    t = _triples_df(spark, tri)
    prefix = bgp_path(t, ["e"], out_cols=("a", "_mid"))
    plus = bgp_path_quant(t, "e", 1, None, out_cols=("_mid", "z"))
    got = {(r.a, r.z) for r in
           prefix.join(plus, "_mid").select("a", "z")
           .distinct().collect()}
    edges = {(s, o) for (s, _, o) in tri}
    by_len = {1: set(edges)}
    for k in (2, 3, 4):
        by_len[k] = {(x, z) for (x, y) in by_len[k - 1]
                     for (y2, z) in edges if y == y2}
    want = by_len[2] | by_len[3] | by_len[4]
    assert got == want


def test_bgp_graph_carry_matches_per_graph_union(spark):
    """GRAPH ?g semantics pinned by construction: carry_graph over a
    random quad table equals running the UNSCOPED 2-hop chain
    separately on each graph's triples and unioning with the graph
    label."""
    import random

    from serd_spark.operators.kg import bgp

    for seed in (7, 99):
        rng = random.Random(seed)
        rows = {(f"g{rng.randint(0, 2)}", f"n{rng.randint(0, 8)}",
                 rng.choice(["p1", "p2"]), f"n{rng.randint(0, 8)}")
                for _ in range(60)}
        q = _quads_df(spark, sorted(rows))
        got = {tuple(r) for r in
               bgp(q, _CHAIN, select=["a", "c"],
                   carry_graph=True).collect()}
        want = set()
        for g in ("g0", "g1", "g2"):
            sub = q.where(F.col("g") == g)
            for r in bgp(sub, _CHAIN, select=["a", "c"]).collect():
                want.add((g, r.a, r.c))
        assert got == want, f"seed {seed}"


def _brute_bgp(tri, patterns):
    """Naive BGP evaluator: enumerate all triple-combination
    assignments consistent across shared variables."""
    sols = [dict()]
    for (ps, pp, po) in patterns:
        nxt = []
        for b in sols:
            for (s, p, o) in tri:
                b2 = dict(b)
                ok = True
                for term, val in ((ps, s), (pp, p), (po, o)):
                    if term.startswith("?"):
                        v = term[1:]
                        if b2.get(v, val) != val:
                            ok = False
                            break
                        b2[v] = val
                    elif term != val:
                        ok = False
                        break
                if ok:
                    nxt.append(b2)
        sols = nxt
    return sols


def test_bgp_generic_matches_bruteforce_random(spark):
    """Random graphs × random connected patterns: the generic BGP
    composer equals naive enumeration regardless of arm order,
    constants, repeated variables, and shape (star/chain/triangle
    mixes the fixed verbs can't express)."""
    import random

    from serd_spark.operators.kg import bgp

    shapes = [
        # triangle (the closing-edge shape no fixed verb covers)
        [("?a", "p1", "?b"), ("?b", "p2", "?c"), ("?a", "p3", "?c")],
        # star ⋈ chain mix
        [("?s", "p1", "?x"), ("?s", "p2", "?y"), ("?y", "p1", "?z")],
        # constants in s and o positions + variable predicate
        [("n0", "?p", "?x"), ("?x", "p2", "n1")],
        # repeated variable within an arm (self-loop) + join
        [("?a", "p1", "?a"), ("?a", "p2", "?b")],
        # 4-arm cycle
        [("?a", "p1", "?b"), ("?b", "p2", "?c"),
         ("?c", "p1", "?d"), ("?d", "p2", "?a")],
    ]
    for seed in (3, 41, 588):
        rng = random.Random(seed)
        tri = sorted({(f"n{rng.randint(0, 5)}",
                       rng.choice(["p1", "p2", "p3"]),
                       f"n{rng.randint(0, 5)}") for _ in range(25)})
        t = _triples_df(spark, tri)
        for pats in shapes:
            out_vars = sorted({term[1:] for pat in pats
                               for term in pat if term.startswith("?")
                               and term[1:] != "p"} |
                              ({"p"} if any(x == "?p" for pat in pats
                                            for x in pat) else set()))
            want = {tuple(b[v] for v in out_vars)
                    for b in _brute_bgp(tri, pats)}
            got = {tuple(r[v] for v in out_vars)
                   for r in bgp(t, pats, select=out_vars).collect()}
            assert got == want, f"seed {seed} pattern {pats}"


def test_bgp_generic_validation(spark):
    """Disconnected conjunctions raise (never a silent cartesian),
    unbound select names raise, malformed patterns raise, and the
    all-ground form answers like ASK."""
    import pytest as _pytest

    from serd_spark.operators.kg import bgp

    t = _triples_df(spark, [("a", "p", "b"), ("b", "q", "c")])
    with _pytest.raises(ValueError, match="disconnected"):
        bgp(t, [("?x", "p", "?y"), ("?v", "q", "?w")])
    with _pytest.raises(ValueError, match="unbound"):
        bgp(t, [("?x", "p", "?y")], select=["zz"])
    with _pytest.raises(ValueError, match="non-empty"):
        bgp(t, [])
    q = _quads_df(spark, [("g1", "a", "p", "b")])
    with _pytest.raises(ValueError, match="reserved"):
        bgp(q, [("?g", "p", "?y")], carry_graph=True)
    # ground guard composes with bindings: present guard keeps rows,
    # absent guard empties the result
    assert bgp(t, [("?x", "p", "?y"), ("b", "q", "c")]).count() == 1
    assert bgp(t, [("?x", "p", "?y"), ("b", "q", "zz")]).count() == 0
    # all-ground == ASK
    assert bgp(t, [("a", "p", "b")]).collect()[0].matched is True
    assert bgp(t, [("a", "p", "zz")]).count() == 0


def test_bgp_generic_exchange_free_over_buckets(spark):
    """The generic composer keeps the fixed verbs' plan property: an
    all-subject-shared pattern (star shape) over a subject-bucketed
    table plans with ZERO Exchange nodes and pushes every constant
    predicate to the scan."""
    from serd_spark.operators.kg import bgp
    from serd_spark.operators.materialize import write_bucketed_triples

    rows = [(f"s{i}", p, f"{p}_v{i % 5}")
            for i in range(200) for p in ("p1", "p2", "p3")]
    t = _triples_df(spark, rows)
    write_bucketed_triples(t, "t_bgp_generic_plan", n_buckets=4)
    bt = spark.table("t_bgp_generic_plan")

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        star = bgp(bt, [("?s", "p1", "?a"), ("?s", "p2", "?b"),
                        ("?s", "p3", "?c")])
        plan = star._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan, plan
        assert plan.count("Exchange") == 0, plan
        assert "EqualTo(p,p1)" in plan, plan
        assert "EqualTo(p,p3)" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bgp_path_graph_scoped(spark):
    """GRAPH on the path verbs: a fixed chain and the p+/p* closures
    must stay WITHIN one named graph — a hop continuing in another
    graph (the decoy) never extends a path — and the constant-graph
    form equals filtering first.  The zero-length p* row binds each
    graph's OWN terms only."""
    from serd_spark.operators.kg import bgp_path, bgp_path_quant

    rows = [
        ("g1", "a", "p", "b"), ("g1", "b", "p", "c"),
        ("g2", "b", "p", "d"),  # decoy: continues g1's path in g2
        ("g2", "x", "p", "y"), ("g2", "y", "p", "z"),
    ]
    q = _quads_df(spark, rows)
    got = {tuple(r) for r in
           bgp_path(q, ["p", "p"], carry_graph=True).collect()}
    assert got == {("g1", "a", "c"), ("g2", "x", "z")}
    assert ("g1", "a", "d") not in got and ("g2", "a", "d") not in got

    const = {tuple(r) for r in
             bgp_path(q, ["p", "p"], graph="g2").collect()}
    assert const == {("x", "z")}

    plus = {tuple(r) for r in
            bgp_path_quant(q, "p", 1, None, carry_graph=True)
            .collect()}
    assert plus == {("g1", "a", "b"), ("g1", "b", "c"),
                    ("g1", "a", "c"), ("g2", "b", "d"),
                    ("g2", "x", "y"), ("g2", "y", "z"),
                    ("g2", "x", "z")}

    star = {tuple(r) for r in
            bgp_path_quant(q, "p", 0, None, carry_graph=True)
            .collect()}
    refl = {x for x in star if x[1] == x[2]}
    assert refl == {("g1", t, t) for t in ("a", "b", "c")} \
        | {("g2", t, t) for t in ("b", "d", "x", "y", "z")}
    assert star - refl == plus

    # bounded form is graph-scoped too
    two = {tuple(r) for r in
           bgp_path_quant(q, "p", 2, 2, carry_graph=True).collect()}
    assert two == {("g1", "a", "c"), ("g2", "x", "z")}

    with pytest.raises(ValueError, match="'g' column"):
        bgp_path(q.drop("g"), ["p"], carry_graph=True)
    with pytest.raises(ValueError, match="'g' column"):
        bgp_path_quant(q.drop("g"), "p", 1, 2, carry_graph=True)


def test_bgp_path_graph_carry_matches_per_graph_union(spark):
    """Same by-construction pin as the 2hop version: carry_graph on
    the path verbs equals running the unscoped verb per graph and
    unioning with the label — over random cyclic quad tables."""
    import random

    from serd_spark.operators.kg import bgp_path, bgp_path_quant

    for seed in (11, 203):
        rng = random.Random(seed)
        rows = {(f"g{rng.randint(0, 2)}", f"n{rng.randint(0, 7)}",
                 "e", f"n{rng.randint(0, 7)}") for _ in range(40)}
        q = _quads_df(spark, sorted(rows))
        for verb in (
            lambda d, **kw: bgp_path(d, ["e", "e"], **kw),
            lambda d, **kw: bgp_path_quant(d, "e", 1, None, **kw),
            lambda d, **kw: bgp_path_quant(d, "e", 0, 3, **kw),
        ):
            got = {tuple(r) for r in
                   verb(q, carry_graph=True).collect()}
            want = set()
            for g in ("g0", "g1", "g2"):
                sub = q.where(F.col("g") == g)
                if sub.isEmpty():
                    continue
                for r in verb(sub).collect():
                    want.add((g,) + tuple(r))
            assert got == want, f"seed {seed}"


def test_bgp_minus_partial_compat_matches_bruteforce(spark):
    """compat='partial' implements the SPARQL-spec MINUS on NULLs
    (unbound shared vars are ignored; removal needs agreement on the
    mutually bound columns plus at least one mutually bound column),
    pinned against a row-by-row brute force over random NULL-ridden
    operands; compat='bound' stays the fast documented equality
    semantics."""
    import random

    from serd_spark.operators.kg import bgp_minus

    for seed in (19, 404):
        rng = random.Random(seed)

        def cell():
            return rng.choice([None, "u", "v", "w"])

        lrows = [(f"s{i}", cell(), cell()) for i in range(12)]
        prows = sorted({(cell(), cell()) for _ in range(6)},
                       key=lambda r: (r[0] or "", r[1] or ""))
        left = spark.createDataFrame(
            lrows, "s string, a string, b string")
        pat = spark.createDataFrame(prows, "a string, b string")

        def removed(lr):
            for pr in prows:
                some, ok = False, True
                for i, c in enumerate(("a", "b")):
                    lv, pv = lr[i + 1], pr[i]
                    if lv is not None and pv is not None:
                        if lv == pv:
                            some = True
                        else:
                            ok = False
                            break
                if ok and some:
                    return True
            return False

        want = {r for r in lrows if not removed(r)}
        got = {(r.s, r.a, r.b) for r in
               bgp_minus(left, pat, compat="partial").collect()}
        assert got == want, f"seed {seed}"

        # bound mode: plain equality join — NULL keys never match,
        # hence never remove (SQL equality, not Python ==)
        want_b = {r for r in lrows
                  if not any(r[1] is not None and r[1] == p[0]
                             and r[2] is not None and r[2] == p[1]
                             for p in prows)}
        got_b = {(r.s, r.a, r.b)
                 for r in bgp_minus(left, pat).collect()}
        assert got_b == want_b, f"seed {seed}"

    with pytest.raises(ValueError, match="compat"):
        bgp_minus(left, pat, compat="nope")


def test_graph_minus_vs_not_exists_divergence(spark):
    """The GRAPH × MINUS interaction (VERDICT r7 #8): with ?g in the
    shared set, MINUS subtracts only same-graph-compatible bindings,
    while NOT EXISTS with carry_graph tests absence per (g, s) —
    they agree there; the spec DIVERGENCE shows when the pattern
    shares no variable at all (MINUS keeps everything, NOT EXISTS
    still filters), pinned over a random NQ-style quad corpus."""
    import random

    from serd_spark.operators.kg import bgp, bgp_minus

    for seed in (23, 97):
        rng = random.Random(seed)
        rows = {(f"g{rng.randint(0, 1)}", f"s{rng.randint(0, 5)}",
                 rng.choice(["p1", "p2"]), f"o{rng.randint(0, 3)}")
                for _ in range(30)}
        q = _quads_df(spark, sorted(rows))

        left = bgp(q, [("?s", "p1", "?v")], carry_graph=True)
        pat = bgp(q, [("?s", "p2", "?w")], carry_graph=True)
        # shared set {g, s}: MINUS == NOT EXISTS (both fully bound)
        got_minus = {(r.g, r.s, r.v) for r in
                     bgp_minus(left, pat, on=["g", "s"]).collect()}
        got_ne = {tuple(r) for r in
                  bgp(q, [("?s", "p1", "?v")],
                      not_exists=[[("?s", "p2", "?_x")]],
                      carry_graph=True).collect()}
        assert got_minus == got_ne, f"seed {seed}"

        # brute force the same-graph subtraction
        p1 = {(g, s, o) for (g, s, p, o) in rows if p == "p1"}
        p2_keys = {(g, s) for (g, s, p, o) in rows if p == "p2"}
        want = {(g, s, o) for (g, s, o) in p1
                if (g, s) not in p2_keys}
        assert got_minus == want, f"seed {seed}"

        # disjoint domains: MINUS removes nothing even when the
        # pattern is non-empty (renamed columns = no shared vars)
        pat_disjoint = pat.select(
            F.col("g").alias("gg"), F.col("s").alias("t"),
            F.col("w"))
        assert bgp_minus(left, pat_disjoint).count() == left.count()


def test_bgp_generic_graph_carry_matches_per_graph_union(spark):
    """GRAPH ?g on the generic composer equals running the unscoped
    composition per graph and unioning with the label — including a
    triangle pattern whose closing edge must not cross graphs."""
    import random

    from serd_spark.operators.kg import bgp

    pats = [("?a", "p1", "?b"), ("?b", "p2", "?c"),
            ("?a", "p3", "?c")]
    for seed in (31, 450):
        rng = random.Random(seed)
        rows = {(f"g{rng.randint(0, 2)}", f"n{rng.randint(0, 5)}",
                 rng.choice(["p1", "p2", "p3"]),
                 f"n{rng.randint(0, 5)}") for _ in range(80)}
        q = _quads_df(spark, sorted(rows))
        got = {tuple(r) for r in
               bgp(q, pats, carry_graph=True).collect()}
        want = set()
        for g in ("g0", "g1", "g2"):
            sub = q.where(F.col("g") == g)
            for r in bgp(sub, pats).collect():
                want.add((g,) + tuple(r))
        assert got == want, f"seed {seed}"
        const = {tuple(r) for r in bgp(q, pats, graph="g1").collect()}
        assert const == {x[1:] for x in want if x[0] == "g1"}, seed


def _brute_bgp_seeded(tri, patterns, seed):
    """_brute_bgp starting from one pre-bound solution (the OPTIONAL
    left-join semantics: the group evaluates with the required
    binding's shared variables already fixed)."""
    sols = [dict(seed)]
    for (ps, pp, po) in patterns:
        nxt = []
        for b in sols:
            for (s, p, o) in tri:
                b2 = dict(b)
                ok = True
                for term, val in ((ps, s), (pp, p), (po, o)):
                    if term.startswith("?"):
                        v = term[1:]
                        if b2.get(v, val) != val:
                            ok = False
                            break
                        b2[v] = val
                    elif term != val:
                        ok = False
                        break
                if ok:
                    nxt.append(b2)
        sols = nxt
    return sols


def test_bgp_optional_matches_bruteforce_random(spark):
    """OPTIONAL groups on the generic composer equal the naive
    left-join evaluation over random graphs: matching groups fan
    out, non-matching ones keep the required row with NULL in the
    group's new columns, and multiple groups extend independently."""
    import random

    from serd_spark.operators.kg import bgp

    cases = [
        # one-arm group (an OPTIONAL star arm)
        ([("?s", "p1", "?x")], [[("?s", "p2", "?y")]]),
        # optional CHAIN hanging off a required chain end
        ([("?s", "p1", "?x")],
         [[("?x", "p2", "?y"), ("?y", "p3", "?z")]]),
        # two independent groups off different required vars
        ([("?s", "p1", "?x"), ("?x", "p2", "?w")],
         [[("?s", "p3", "?u")], [("?w", "p1", "?v")]]),
    ]
    for seed in (7, 59, 812):
        rng = random.Random(seed)
        tri = sorted({(f"n{rng.randint(0, 5)}",
                       rng.choice(["p1", "p2", "p3"]),
                       f"n{rng.randint(0, 5)}") for _ in range(25)})
        t = _triples_df(spark, tri)
        for pats, groups in cases:
            out_vars = sorted(
                {x[1:] for pat in pats for x in pat
                 if x.startswith("?")} |
                {x[1:] for g in groups for pat in g for x in pat
                 if x.startswith("?")})
            want = set()
            for b in _brute_bgp(tri, pats):
                exts = [dict(b)]
                for g in groups:
                    nxt = []
                    for e in exts:
                        ms = _brute_bgp_seeded(tri, g, e)
                        nxt.extend(ms if ms else [e])
                    exts = nxt
                for e in exts:
                    want.add(tuple(e.get(v) for v in out_vars))
            got = {tuple(r[v] for v in out_vars)
                   for r in bgp(t, pats, select=out_vars,
                                optional=groups).collect()}
            assert got == want, f"seed {seed} case {pats} {groups}"


def test_bgp_optional_validation(spark):
    """OPTIONAL groups must connect to the required patterns, may
    not share variables with each other, may not be ground guards,
    and need a variable-binding required side."""
    from serd_spark.operators.kg import bgp

    t = _triples_df(spark, [("a", "p", "b"), ("b", "q", "c")])
    with pytest.raises(ValueError, match="shares no variable"):
        bgp(t, [("?x", "p", "?y")], optional=[[("?v", "q", "?w")]])
    with pytest.raises(ValueError, match="reuses variables"):
        bgp(t, [("?x", "p", "?y")],
            optional=[[("?y", "q", "?z")], [("?z", "q", "?w")]])
    with pytest.raises(ValueError, match="guard"):
        bgp(t, [("?x", "p", "?y")], optional=[[("b", "q", "c")]])
    with pytest.raises(ValueError, match="non-empty"):
        bgp(t, [("?x", "p", "?y")], optional=[[]])
    with pytest.raises(ValueError, match="binding"):
        bgp(t, [("a", "p", "b")], optional=[[("?x", "q", "?y")]])
    # optional vars are selectable; NULL where the group missed
    rows = {(r.x, r.y, r.z) for r in
            bgp(t, [("?x", "p", "?y")],
                optional=[[("?y", "q", "?z")]]).collect()}
    assert rows == {("a", "b", "c")}
    rows2 = {(r.x, r.z) for r in
             bgp(t, [("?x", "?p2", "?y")], select=["x", "z"],
                 optional=[[("?y", "q", "?z")]]).collect()}
    assert rows2 == {("a", "c"), ("b", None)}


def test_bgp_optional_exchange_free_over_buckets(spark):
    """An optional star arm keeps the composer's plan property: the
    LEFT join on the same subject key adds no Exchange over a
    subject-bucketed table."""
    from serd_spark.operators.kg import bgp
    from serd_spark.operators.materialize import write_bucketed_triples

    rows = [(f"s{i}", p, f"{p}_v{i % 5}")
            for i in range(200) for p in ("p1", "p2")] + \
           [(f"s{i}", "p3", f"p3_v{i}") for i in range(0, 200, 2)]
    t = _triples_df(spark, rows)
    write_bucketed_triples(t, "t_bgp_opt_plan", n_buckets=4)
    bt = spark.table("t_bgp_opt_plan")

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        star = bgp(bt, [("?s", "p1", "?a"), ("?s", "p2", "?b")],
                   optional=[[("?s", "p3", "?c")]])
        plan = star._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan, plan
        assert plan.count("Exchange") == 0, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bgp_union_matches_bruteforce_random(spark):
    """UNION equals the per-branch solution-set union aligned by
    variable name, with NULL (unbound) where a branch does not bind
    a variable — over random graphs and differing-arity branches."""
    import random

    from serd_spark.operators.kg import bgp_union

    cases = [
        # same vars both branches (license|rights shape)
        [[("?d", "p1", "?l")], [("?d", "p2", "?l")]],
        # differing arity: branch 2 binds an extra variable
        [[("?d", "p1", "?l")],
         [("?d", "p2", "?l"), ("?l", "p3", "?m")]],
        # disjoint var sets beyond the first
        [[("?d", "p1", "?a")], [("?d", "p2", "?b")]],
    ]
    for seed in (13, 77):
        rng = random.Random(seed)
        tri = sorted({(f"n{rng.randint(0, 5)}",
                       rng.choice(["p1", "p2", "p3"]),
                       f"n{rng.randint(0, 5)}") for _ in range(25)})
        t = _triples_df(spark, tri)
        for groups in cases:
            all_vars = []
            for g in groups:
                for pat in g:
                    for x in pat:
                        if x.startswith("?") and x[1:] not in all_vars:
                            all_vars.append(x[1:])
            want = set()
            for g in groups:
                for b in _brute_bgp(tri, g):
                    want.add(tuple(b.get(v) for v in all_vars))
            got = {tuple(r[v] for v in all_vars)
                   for r in bgp_union(t, groups).collect()}
            assert got == want, f"seed {seed} groups {groups}"


def test_bgp_union_validation_and_graph(spark):
    """UNION validates its inputs and scopes branches per graph with
    carry_graph (g aligns across branches)."""
    from serd_spark.operators.kg import bgp_union

    t = _triples_df(spark, [("a", "p", "b"), ("a", "q", "c")])
    with pytest.raises(ValueError, match="non-empty"):
        bgp_union(t, [])
    with pytest.raises(ValueError, match="no branch"):
        bgp_union(t, [[("?x", "p", "?y")]], select=["zz"])

    rows = {(r.x, r.y) for r in
            bgp_union(t, [[("?x", "p", "?y")],
                          [("?x", "q", "?y")]]).collect()}
    assert rows == {("a", "b"), ("a", "c")}

    q = _quads_df(spark, [("g1", "a", "p", "b"),
                          ("g2", "a", "q", "c")])
    gr = {(r.g, r.x, r.y) for r in
          bgp_union(q, [[("?x", "p", "?y")], [("?x", "q", "?y")]],
                    carry_graph=True).collect()}
    assert gr == {("g1", "a", "b"), ("g2", "a", "c")}
    cg = {(r.x, r.y) for r in
          bgp_union(q, [[("?x", "p", "?y")], [("?x", "q", "?y")]],
                    graph="g2").collect()}
    assert cg == {("a", "c")}


def test_bgp_filters_and_null_semantics(spark):
    """FILTER expressions apply to the solution set, with Spark's
    NULL comparisons matching SPARQL's error-elimination on unbound
    (OPTIONAL-introduced) variables; BOUND is IS [NOT] NULL."""
    from serd_spark.operators.kg import bgp

    t = _triples_df(spark, [("a", "p", "b"), ("c", "p", "d"),
                            ("b", "name", "Ben")])
    rows = {(r.x, r.y) for r in
            bgp(t, [("?x", "p", "?y")],
                filters=["y <> 'd'"]).collect()}
    assert rows == {("a", "b")}
    # comparison on an unbound variable eliminates the row…
    got = {(r.x, r.n) for r in
           bgp(t, [("?x", "p", "?y")],
               optional=[[("?y", "name", "?n")]],
               filters=["n <> 'zzz'"]).collect()}
    assert got == {("a", "Ben")}
    # …while BOUND-style IS NULL keeps exactly the unmatched ones
    unb = {(r.x, r.y) for r in
           bgp(t, [("?x", "p", "?y")],
               optional=[[("?y", "name", "?n")]],
               filters=["n IS NULL"]).collect()}
    assert unb == {("c", "d")}
    # conjuncts compose; filter on a required var prunes both
    both = bgp(t, [("?x", "p", "?y")],
               filters=["x <> 'a'", "y <> 'd'"])
    assert both.count() == 0


def test_bgp_exists_not_exists_matches_bruteforce_random(spark):
    """FILTER EXISTS / NOT EXISTS groups on the composer equal naive
    evaluation (keep a solution iff SOME / NO extension of it
    matches the group) over random graphs, including multi-pattern
    groups and groups with their own new variables."""
    import random

    from serd_spark.operators.kg import bgp

    cases = [
        ([("?a", "p1", "?b")], [("?b", "p2", "?c")]),
        ([("?a", "p1", "?b"), ("?b", "p2", "?c")],
         [("?c", "p1", "?d"), ("?d", "p2", "?e")]),
        ([("?a", "p2", "?b")], [("?b", "p1", "n1")]),
    ]
    for seed in (7, 99, 1234):
        rng = random.Random(seed)
        tri = sorted({(f"n{rng.randint(0, 5)}",
                       rng.choice(["p1", "p2", "p3"]),
                       f"n{rng.randint(0, 5)}") for _ in range(25)})
        t = _triples_df(spark, tri)
        for req, grp in cases:
            req_vars = sorted({x[1:] for pat in req for x in pat
                               if x.startswith("?")})
            base = {tuple(b[v] for v in req_vars)
                    for b in _brute_bgp(tri, req)}
            holds = {sol for sol in base
                     if _brute_bgp_seeded(
                         tri, grp, dict(zip(req_vars, sol)))}
            got_e = {tuple(r[v] for v in req_vars) for r in
                     bgp(t, req, select=req_vars,
                         exists=[grp]).collect()}
            got_n = {tuple(r[v] for v in req_vars) for r in
                     bgp(t, req, select=req_vars,
                         not_exists=[grp]).collect()}
            assert got_e == holds, f"seed {seed} grp {grp}"
            assert got_n == base - holds, f"seed {seed} grp {grp}"


def test_bgp_exists_validation(spark):
    """EXISTS/NOT-EXISTS groups must anchor on required-bound
    variables: unanchored, optional-only-anchored, ground-guard, and
    empty groups are rejected."""
    from serd_spark.operators.kg import bgp

    t = _triples_df(spark, [("a", "p", "b"), ("b", "q", "c")])
    with pytest.raises(ValueError, match="shares no variable"):
        bgp(t, [("?x", "p", "?y")], exists=[[("?v", "q", "?w")]])
    with pytest.raises(ValueError, match="OPTIONAL-introduced"):
        bgp(t, [("?x", "p", "?y")],
            optional=[[("?y", "q", "?z")]],
            not_exists=[[("?z", "q", "?w")]])
    with pytest.raises(ValueError, match="guard"):
        bgp(t, [("?x", "p", "?y")], exists=[[("b", "q", "c")]])
    with pytest.raises(ValueError, match="non-empty"):
        bgp(t, [("?x", "p", "?y")], not_exists=[[]])
    # per-graph absence with carry_graph
    q = _quads_df(spark, [("g1", "a", "p", "b"),
                          ("g1", "a", "del", "1"),
                          ("g2", "a", "p", "b")])
    keep = {(r.g, r.x) for r in
            bgp(q, [("?x", "p", "?y")], select=["x"],
                not_exists=[[("?x", "del", "?d")]],
                carry_graph=True).collect()}
    assert keep == {("g2", "a")}


def test_bgp_exists_exchange_free_over_buckets(spark):
    """A subject-anchored EXISTS group keeps the composer's plan
    property: the semi join on the bucketed subject key adds no
    Exchange."""
    from serd_spark.operators.kg import bgp
    from serd_spark.operators.materialize import write_bucketed_triples

    rows = [(f"s{i}", p, f"{p}_v{i % 5}")
            for i in range(200) for p in ("p1", "p2")] + \
           [(f"s{i}", "p3", f"x{i}") for i in range(0, 200, 2)]
    t = _triples_df(spark, rows)
    write_bucketed_triples(t, "t_bgp_ex_plan", n_buckets=4)
    bt = spark.table("t_bgp_ex_plan")

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = bgp(bt, [("?s", "p1", "?a"), ("?s", "p2", "?b")],
                 exists=[[("?s", "p3", "?c")]])
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan, plan
        assert plan.count("Exchange") == 0, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bgp_path_arm_matches_composed_verbs(spark):
    """A property-path arm inside the composer equals the standalone
    path verb joined by hand — fixed sequences, quantified forms,
    closures, constant endpoints, and the per-graph carry."""
    from serd_spark.operators.kg import (bgp, bgp_path,
                                         bgp_path_quant)

    tri = [("a", "p", "b"), ("b", "p", "c"), ("c", "p", "d"),
           ("d", "q", "e"), ("a", "q", "c"),
           ("b", "name", "Ben"), ("d", "name", "Dee")]
    t = _triples_df(spark, tri)

    # closure arm ⋈ plain arm == bgp_path_quant ⋈ name triples
    got = {(r.x, r.z, r.n) for r in
           bgp(t, [("?x", {"path": "p", "min": 1, "max": None},
                    "?z"), ("?z", "name", "?n")]).collect()}
    pairs = {(r.a, r.z) for r in
             bgp_path_quant(t, "p", 1, None).collect()}
    names = {(s, o) for (s, p, o) in tri if p == "name"}
    want = {(x, z, n) for (x, z) in pairs for (z2, n) in names
            if z2 == z}
    assert got == want and got

    # fixed sequence with alternation hop, constant subject
    got2 = {tuple(r) for r in
            bgp(t, [("a", {"path": [["p", "q"], "p"]},
                     "?z")]).collect()}
    want2 = {(r.z,) for r in
             bgp_path(t, [["p", "q"], "p"]).where(
                 F.col("a") == "a").collect()}
    assert got2 == want2 and got2

    # p{0,2} zero-length row binds the shared variable reflexively
    got3 = {(r.x, r.z) for r in
            bgp(t, [("?x", {"path": "p", "max": 2}, "?z"),
                    ("?x", "name", "?n")]).collect()}
    q02 = {(r.a, r.z) for r in
           bgp_path_quant(t, "p", 0, 2).collect()}
    withname = {s for (s, p, o) in tri if p == "name"}
    assert got3 == {(a, z) for (a, z) in q02 if a in withname}

    # per-graph closure arm: paths never hop across graphs
    quads = _quads_df(spark, [("g1", "a", "p", "b"),
                              ("g1", "b", "p", "c"),
                              ("g2", "b", "p", "z9"),
                              ("g2", "a", "name", "A")])
    got4 = {(r.g, r.x, r.z) for r in
            bgp(quads, [("?x", {"path": "p", "min": 1,
                                "max": None}, "?z")],
                carry_graph=True).collect()}
    assert got4 == {("g1", "a", "b"), ("g1", "a", "c"),
                    ("g1", "b", "c"), ("g2", "b", "z9")}


def test_bgp_path_arm_validation(spark):
    """Path-arm specs reject unknown keys, a missing 'path' entry,
    and reserved/bare variable names."""
    from serd_spark.operators.kg import bgp

    t = _triples_df(spark, [("a", "p", "b")])
    with pytest.raises(ValueError, match="unknown path-spec"):
        bgp(t, [("?x", {"path": "p", "mni": 1}, "?y")])
    with pytest.raises(ValueError, match="exactly one of 'path'"):
        bgp(t, [("?x", {"min": 1}, "?y")])
    with pytest.raises(ValueError, match="reserved"):
        bgp(t, [("?g", {"path": "p"}, "?y")])
    # same variable at both ends = cycle membership
    tri = [("a", "p", "b"), ("b", "p", "a"), ("c", "p", "d")]
    t2 = _triples_df(spark, tri)
    cyc = {r.x for r in
           bgp(t2, [("?x", {"path": "p", "min": 1, "max": None},
                     "?x")]).collect()}
    assert cyc == {"a", "b"}


def test_bgp_agg_matches_bruteforce(spark):
    """SPARQL aggregation over the composer: every aggregate spec
    against a hand-computed expectation, grouped, global, per-graph,
    and HAVING-pruned."""
    from serd_spark.operators.kg import bgp_agg

    tri = [("a", "p", "1"), ("a", "p", "2"), ("a", "p", "2"),
           ("b", "p", "5"), ("b", "p", "zz"), ("c", "q", "9")]
    t = _triples_df(spark, tri)
    out = {r.s: (r.n, r.dn, r.tot, r.mx, r.cat) for r in
           bgp_agg(t, [("?s", "p", "?o")], ["?s"],
                   {"n": ("count",),
                    "dn": ("count_distinct", "?o"),
                    "tot": ("sum", "?o"),
                    "mx": ("max", "?o"),
                    "cat": ("group_concat", "?o", "|")}).collect()}
    # solutions are DISTINCT bindings: (a,p,2) counts once
    assert out == {"a": (2, 2, 3.0, "2", "1|2"),
                   "b": (2, 2, 5.0, "zz", "5|zz")}
    # global group over zero solutions: one row, COUNT 0
    z = bgp_agg(t, [("?s", "nope", "?o")], [],
                {"n": ("count",)}).collect()
    assert [tuple(r) for r in z] == [(0,)]
    # HAVING prunes on output columns
    h = bgp_agg(t, [("?s", "p", "?o")], ["?s"],
                {"tot": ("sum", "?o")}, having="tot > 4").collect()
    assert [(r.s, r.tot) for r in h] == [("b", 5.0)]
    # per-graph grouping with carry_graph
    q = _quads_df(spark, [("g1", "a", "p", "x"),
                          ("g1", "a", "p", "y"),
                          ("g2", "a", "p", "x")])
    pg = {(r.g, r.s): r.n for r in
          bgp_agg(q, [("?s", "p", "?o")], ["?s"],
                  {"n": ("count",)}, carry_graph=True).collect()}
    assert pg == {("g1", "a"): 2, ("g2", "a"): 1}
    # validation
    with pytest.raises(ValueError, match="unbound"):
        bgp_agg(t, [("?s", "p", "?o")], ["?zz"], {"n": ("count",)})
    with pytest.raises(ValueError, match="needs a"):
        bgp_agg(t, [("?s", "p", "?o")], [], {"x": ("sum",)})
    with pytest.raises(ValueError, match="unknown aggregate"):
        bgp_agg(t, [("?s", "p", "?o")], [], {"x": ("median", "?o")})


def test_bgp_bind(spark):
    """BIND computes new variables after OPTIONAL/filters, aligns
    with SPARQL: expression errors/unbound inputs yield NULL
    (unbound), rebinding an in-scope variable is rejected, and bound
    variables are selectable."""
    from serd_spark.operators.kg import bgp

    t = _triples_df(spark, [("a", "p", "b"), ("c", "p", "d"),
                            ("b", "name", "Ben")])
    rows = {(r.x, r.key) for r in
            bgp(t, [("?x", "p", "?y")],
                bind={"key": "concat(x, '->', y)"},
                select=["x", "key"]).collect()}
    assert rows == {("a", "a->b"), ("c", "c->d")}
    # BIND over an unbound OPTIONAL var: NULL in, NULL out (SPARQL's
    # error → unbound)
    nb = {(r.x, r.tag) for r in
          bgp(t, [("?x", "p", "?y")],
              optional=[[("?y", "name", "?n")]],
              bind={"tag": "upper(n)"},
              select=["x", "tag"]).collect()}
    assert nb == {("a", "BEN"), ("c", None)}
    with pytest.raises(ValueError, match="already in scope"):
        bgp(t, [("?x", "p", "?y")], bind={"y": "x"})
    with pytest.raises(ValueError, match="reserved"):
        bgp(t, [("?x", "p", "?y")], bind={"g": "x"})


def test_bgp_union_branches_accept_path_arms(spark):
    """UNION branches are full composer groups: a closure path arm
    in one branch unions name-aligned with a plain branch."""
    from serd_spark.operators.kg import bgp_union

    t = _triples_df(spark, [("a", "p", "b"), ("b", "p", "c"),
                            ("a", "r", "d")])
    rows = {(r.x, r.y) for r in
            bgp_union(t, [
                [("?x", {"path": "p", "min": 1, "max": None}, "?y")],
                [("?x", "r", "?y")],
            ]).collect()}
    assert rows == {("a", "b"), ("a", "c"), ("b", "c"), ("a", "d")}


def test_bgp_agg_over_path_arm(spark):
    """Aggregating over a closure arm: descendants counted per root
    — the rollup shape (COUNT over p+) a KG analytics user writes
    first."""
    from serd_spark.operators.kg import bgp_agg

    t = _triples_df(spark, [("r", "p", "a"), ("r", "p", "b"),
                            ("a", "p", "c"), ("x", "p", "y")])
    out = {r.s: r.n for r in
           bgp_agg(t, [("?s", {"path": "p", "min": 1, "max": None},
                        "?d")], ["?s"], {"n": ("count",)}).collect()}
    assert out == {"r": 3, "a": 1, "x": 1}


def test_bgp_full_where_combination_matches_bruteforce(spark):
    """required + OPTIONAL + FILTER + NOT EXISTS together on random
    graphs equal the naive evaluation composed in the same order —
    the full WHERE-clause shape."""
    import random

    from serd_spark.operators.kg import bgp

    for seed in (11, 202):
        rng = random.Random(seed)
        tri = sorted({(f"n{rng.randint(0, 5)}",
                       rng.choice(["p1", "p2", "p3"]),
                       f"n{rng.randint(0, 5)}") for _ in range(25)})
        t = _triples_df(spark, tri)
        req = [("?a", "p1", "?b")]
        base = {(b["a"], b["b"]) for b in _brute_bgp(tri, req)}
        # OPTIONAL {?b p2 ?c}: extend or NULL
        opt = {}
        for (a, b) in base:
            ext = [bb["c"] for bb in _brute_bgp_seeded(
                tri, [("?b", "p2", "?c")], {"a": a, "b": b})]
            opt[(a, b)] = ext or [None]
        sols = {(a, b, c) for (a, b), cs in opt.items() for c in cs}
        # NOT EXISTS {?a p3 ?z}
        sols = {(a, b, c) for (a, b, c) in sols
                if not _brute_bgp_seeded(
                    tri, [("?a", "p3", "?z")], {"a": a})}
        # FILTER c IS NOT NULL AND a != b
        want = {(a, b, c) for (a, b, c) in sols
                if c is not None and a != b}
        got = {(r.a, r.b, r.c) for r in
               bgp(t, req, optional=[[("?b", "p2", "?c")]],
                   not_exists=[[("?a", "p3", "?z")]],
                   filters=["c IS NOT NULL", "a <> b"]).collect()}
        assert got == want, f"seed {seed}"


def test_bgp_agg_plans_partial_aggregation(spark):
    """The aggregate plan keeps Spark's two-phase (map-side partial)
    hash aggregation — one exchange on the grouping key, partial
    aggregates before it."""
    from serd_spark.operators.kg import bgp_agg

    t = _triples_df(spark, [(f"s{i % 7}", "p", f"o{i}")
                            for i in range(50)])
    df = bgp_agg(t, [("?s", "p", "?o")], ["?s"],
                 {"n": ("count",), "mx": ("max", "?o")})
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2, plan
    assert "partial_count" in plan or "partial" in plan.lower(), plan


def test_bgp_exists_rejects_mixed_optional_anchor(spark):
    """An EXISTS/NOT-EXISTS group sharing BOTH a required-bound and
    an OPTIONAL-introduced variable is rejected — joining on the
    required subset alone would silently drop the optional
    correlation (accept any q-edge of ?o instead of the bound ?c)."""
    from serd_spark.operators.kg import bgp

    t = _triples_df(spark, [("o1", "p", "x"), ("o1", "r", "c1"),
                            ("o1", "q", "c2")])
    with pytest.raises(ValueError, match="OPTIONAL-introduced"):
        bgp(t, [("?o", "p", "?x")],
            optional=[[("?o", "r", "?c")]],
            exists=[[("?o", "q", "?c")]])
    with pytest.raises(ValueError, match="OPTIONAL-introduced"):
        bgp(t, [("?o", "p", "?x")],
            optional=[[("?o", "r", "?c")]],
            not_exists=[[("?o", "q", "?c")]])
    # renaming the group's variable (no correlation intended) works
    ok = {(r.o, r.c) for r in
          bgp(t, [("?o", "p", "?x")],
              optional=[[("?o", "r", "?c")]],
              exists=[[("?o", "q", "?c2")]]).collect()}
    assert ok == {("o1", "c1")}


def test_seeded_closure_matches_full_closure_random(spark):
    """A quantified path arm with a constant endpoint (the seeded
    frontier walk) equals the all-pairs closure post-filtered, over
    random CYCLIC graphs, both directions, all quantifier shapes,
    and per graph with carry_graph."""
    import random

    from serd_spark.operators.kg import bgp, bgp_path_quant

    windows = [(1, None), (0, None), (0, 2), (2, 3), (0, 0), (1, 1)]
    for seed in (5, 77, 901):
        rng = random.Random(seed)
        tri = sorted({(f"n{rng.randint(0, 6)}", "p",
                       f"n{rng.randint(0, 6)}") for _ in range(14)})
        tri += [("n0", "q", "n1")]  # a non-path predicate
        t = _triples_df(spark, tri)
        const = f"n{rng.randint(0, 6)}"
        for (lo, hi) in windows:
            full = {(r.a, r.z) for r in
                    bgp_path_quant(t, "p", lo, hi).collect()}
            fwd = {(r.z,) for r in
                   bgp(t, [(const, {"path": "p", "min": lo,
                                    "max": hi}, "?z")]).collect()}
            assert fwd == {(z,) for (a, z) in full if a == const}, \
                (seed, lo, hi, const, "fwd")
            rev = {(r.a,) for r in
                   bgp(t, [("?a", {"path": "p", "min": lo,
                                   "max": hi}, const)]).collect()}
            assert rev == {(a,) for (a, z) in full if z == const}, \
                (seed, lo, hi, const, "rev")

    # per-graph seeded closure: the walk never crosses graphs
    q = _quads_df(spark, [("g1", "a", "p", "b"), ("g1", "b", "p", "c"),
                          ("g2", "a", "p", "x"), ("g2", "x", "p", "a")])
    got = {(r.g, r.z) for r in
           bgp(q, [("a", {"path": "p", "min": 1, "max": None},
                    "?z")], carry_graph=True).collect()}
    assert got == {("g1", "b"), ("g1", "c"),
                   ("g2", "x"), ("g2", "a")}


def test_path_arm_alt_grammar(spark):
    """Quantified list-valued 'path' is rejected as ambiguous;
    'alt' spells quantified alternation; bare 'alt' is the single
    alternation hop."""
    from serd_spark.operators.kg import bgp, bgp_path_quant

    tri = [("a", "p", "b"), ("b", "q", "c"), ("c", "p", "d")]
    t = _triples_df(spark, tri)
    with pytest.raises(ValueError, match="ambiguous"):
        bgp(t, [("?x", {"path": ["p", "q"], "min": 1, "max": 2},
                 "?y")])
    with pytest.raises(ValueError, match="exactly one"):
        bgp(t, [("?x", {"path": "p", "alt": ["q"]}, "?y")])
    with pytest.raises(ValueError, match="exactly one"):
        bgp(t, [("?x", {"min": 1, "max": 2}, "?y")])
    want = {(r.a, r.z) for r in
            bgp_path_quant(t, ["p", "q"], 1, 2).collect()}
    got = {(r.x, r.y) for r in
           bgp(t, [("?x", {"alt": ["p", "q"], "min": 1, "max": 2},
                    "?y")]).collect()}
    assert got == want and got
    one = {(r.x, r.y) for r in
           bgp(t, [("?x", {"alt": ["p", "q"]}, "?y")]).collect()}
    assert one == {(s, o) for (s, p, o) in tri}


def test_seeded_closure_alt_and_negated_specs(spark):
    """The seeded frontier walk honors the full hop grammar —
    alternation and negated property sets — matching the all-pairs
    closure post-filtered."""
    from serd_spark.operators.kg import bgp, bgp_path_quant

    tri = [("a", "p", "b"), ("b", "q", "c"), ("c", "r", "d"),
           ("d", "p", "a"), ("b", "p", "d")]
    t = _triples_df(spark, tri)
    for spec_kw in ({"alt": ["p", "q"]}, {"path": "!r"}):
        for (lo, hi) in ((1, None), (0, 2)):
            spec = dict(spec_kw, min=lo, max=hi)
            hop = spec_kw.get("alt", spec_kw.get("path"))
            full = {(r.a, r.z) for r in
                    bgp_path_quant(t, hop, lo, hi).collect()}
            got = {(r.z,) for r in
                   bgp(t, [("a", spec, "?z")]).collect()}
            assert got == {(z,) for (a, z) in full if a == "a"}, \
                (spec_kw, lo, hi)


def test_seeded_closure_both_endpoints_constant(spark):
    """Both endpoints constant on a quantified arm is the ASK-style
    guard: the whole result empties when no path connects them."""
    from serd_spark.operators.kg import bgp

    t = _triples_df(spark, [("a", "p", "b"), ("b", "p", "c"),
                            ("a", "name", "A")])
    hit = bgp(t, [("?x", "name", "?n"),
                  ("a", {"path": "p", "min": 1, "max": None}, "c")])
    assert {(r.x, r.n) for r in hit.collect()} == {("a", "A")}
    miss = bgp(t, [("?x", "name", "?n"),
                   ("c", {"path": "p", "min": 1, "max": None}, "a")])
    assert miss.count() == 0


def test_bgp_filter_pushes_to_arm_scan(spark):
    """A FILTER conjunct over one arm's variable reaches that arm's
    parquet scan as a PushedFilter — the Catalyst-pushdown claim in
    bgp()'s docstring, pinned on the executed plan."""
    import os
    import tempfile

    from serd_spark.operators.kg import bgp

    rows = [(f"s{i}", "p1" if i % 2 else "p2", f"v{i}")
            for i in range(100)]
    t = _triples_df(spark, rows)
    path = os.path.join(tempfile.mkdtemp(), "tri")
    t.write.parquet(path)
    pt = spark.read.parquet(path)
    df = bgp(pt, [("?s", "p1", "?a"), ("?s", "p2", "?b")],
             filters=["a > 'v50'"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the constant-predicate filters push…
    assert "PushedFilters:" in plan, plan
    assert "EqualTo(p,p1)" in plan, plan
    # …and so does the FILTER's conjunct on the p1 arm's object
    assert "GreaterThan(o,v50)" in plan, plan


def test_bgp_agg_matches_duckdb_random(spark):
    """bgp_agg over random graphs equals DuckDB computing the same
    GROUP BY over the same (distinct) solution set — every agg kind
    in one query."""
    import random

    import duckdb

    from serd_spark.operators.kg import bgp_agg

    for seed in (19, 333):
        rng = random.Random(seed)
        tri = sorted({(f"n{rng.randint(0, 5)}", "p",
                       str(rng.choice([1, 2, 7, "xx"])))
                      for _ in range(20)})
        t = _triples_df(spark, tri)
        got = {(r.s, r.n, r.dn, r.tot, r.mx, r.cat) for r in
               bgp_agg(t, [("?s", "p", "?o")], ["?s"],
                       {"n": ("count",),
                        "dn": ("count_distinct", "?o"),
                        "tot": ("sum", "?o"),
                        "mx": ("max", "?o"),
                        "cat": ("group_concat", "?o", ",")}).collect()}
        con = duckdb.connect()
        con.execute("CREATE TABLE tri (s VARCHAR, p VARCHAR,"
                    " o VARCHAR)")
        con.executemany("INSERT INTO tri VALUES (?, ?, ?)", tri)
        want = set(con.execute(
            "SELECT s, COUNT(*), COUNT(DISTINCT o),"
            " SUM(TRY_CAST(o AS DOUBLE)), MAX(o),"
            " STRING_AGG(o, ',' ORDER BY o)"
            " FROM (SELECT DISTINCT s, o FROM tri WHERE p = 'p')"
            " GROUP BY s").fetchall())
        assert got == want, seed
