"""Transcript KG-construction stages (SURVEY §7 item 4, the
north-star specifics): mention detection and entity-link scoring over
turn text, then mention→(s, p, o) triple emission.

Model-free and deterministic by design (tests must be stable): the
entity dictionary is an explicit table, mention detection is exact
token-n-gram matching, and the link scorer combines context-keyword
overlap with alias specificity — every stage is a JVM column
expression or broadcast join with an exact SQL mirror.

Scale shape (100 TB corpus, dictionary ≤ millions of aliases):

- the corpus is scanned ONCE and exploded to positional token n-grams
  (the same slice+zip_with shingle construction as the dedup
  operators — no per-element re-evaluation);
- the dictionary broadcasts; the detect join is map-side, no corpus
  shuffle (for dictionaries too big to broadcast, the same plan
  shuffle-joins on the gram — one shuffle keyed by text content,
  still never a cartesian);
- link scoring is a window over (mention), candidates bounded by the
  per-alias ambiguity (small by construction of real dictionaries);
- triple emission is a projection.

Dictionary schema: ``(entity_id: long, iri: string, alias: string,
ctx: array<string>)`` — ``alias`` is a lowercase 1..max_gram-word
phrase; ``ctx`` holds lowercase context keywords used to disambiguate
entities sharing an alias.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .dedup import _shingles_from_tokens
from .util import frontier_fixpoint

MENTIONS_PRED = "urn:kg:mentions"


def _gram_positions(toks, k: int):
    """array of (pos, gram) structs for k-grams of a token array."""
    grams = _shingles_from_tokens(toks, k) if k > 1 else toks
    return F.zip_with(
        F.sequence(F.lit(0), F.greatest(F.size(grams) - 1, F.lit(0))),
        grams,
        lambda i, g: F.struct(i.alias("pos"), g.alias("gram")),
    )


def detect_mentions(
    turns: DataFrame, entities: DataFrame, text_col: str = "text",
    max_gram: int = 2, broadcast_dict: bool = True,
    key_cols: tuple = ("conv_id", "turn_idx"),
) -> DataFrame:
    """Mention candidates: every (turn, token position, n-gram) whose
    lowercase n-gram equals a dictionary alias, joined to ALL entities
    carrying that alias (ambiguity resolved by ``link_entities``).

    Output: key_cols + (pos, n_gram, alias, entity_id, iri, ctx,
    toks) — ``toks`` (the turn's token array) rides along for the
    scorer's context overlap, avoiding a rejoin to the corpus."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    base = turns.select(*key_cols, toks.alias("_toks"))

    def tag(k: int):
        # NB: a 2-parameter lambda would make F.transform pass the
        # ARRAY INDEX as the second argument, clobbering a `_k=k`
        # default — close over k with a factory instead.
        return lambda s: F.struct(
            s["pos"].alias("pos"),
            F.lit(k).alias("n_gram"),
            s["gram"].alias("gram"))

    grams = base.select(
        *key_cols, "_toks",
        F.explode(F.flatten(F.array(*[
            F.transform(_gram_positions(F.col("_toks"), k), tag(k))
            for k in range(1, max_gram + 1)
        ]))).alias("m"),
    ).select(*key_cols, "_toks", "m.pos", "m.n_gram",
             F.col("m.gram").alias("alias"))
    dict_df = entities.select("entity_id", "iri", "alias", "ctx")
    if broadcast_dict:
        dict_df = F.broadcast(dict_df)
    return grams.join(dict_df, "alias").select(
        *key_cols, "pos", "n_gram", "alias", "entity_id", "iri", "ctx",
        F.col("_toks").alias("toks"))


class AhoCorasick:
    """Minimal Aho-Corasick automaton (pure Python, deterministic):
    multi-pattern substring search in one pass over the text.  Built
    once per executor task batch from the (broadcast-sized) alias
    dictionary; matching is O(len(text) + matches) regardless of
    dictionary size — the scale path when aliases are not
    whitespace-tokenizable (CJK scripts, punctuation-embedded names),
    where the token-n-gram join of :func:`detect_mentions` cannot
    see them."""

    def __init__(self, patterns):
        self.goto = [{}]
        self.out = [[]]
        self.fail = [0]
        for pat in patterns:
            s = 0
            for ch in pat:
                nxt = self.goto[s].get(ch)
                if nxt is None:
                    self.goto.append({})
                    self.out.append([])
                    self.fail.append(0)
                    nxt = len(self.goto) - 1
                    self.goto[s][ch] = nxt
                s = nxt
            self.out[s].append(pat)
        # BFS failure links
        from collections import deque

        q = deque()
        for s in self.goto[0].values():
            q.append(s)
        while q:
            s = q.popleft()
            for ch, t in self.goto[s].items():
                q.append(t)
                f = self.fail[s]
                while f and ch not in self.goto[f]:
                    f = self.fail[f]
                self.fail[t] = self.goto[f].get(ch, 0) if \
                    self.goto[f].get(ch, 0) != t else 0
                self.out[t] = self.out[t] + self.out[self.fail[t]]

    def finditer(self, text):
        """yields (start_char, pattern) for every occurrence."""
        s = 0
        for i, ch in enumerate(text):
            while s and ch not in self.goto[s]:
                s = self.fail[s]
            s = self.goto[s].get(ch, 0)
            for pat in self.out[s]:
                yield i - len(pat) + 1, pat


# Executor-process cache: one (broadcast_id, automaton) slot per
# worker process so the automaton builds ONCE per executor, not once
# per task.  Keyed by the Broadcast's stable small-integer JVM id
# (captured driver-side into the closure — the worker-side Broadcast
# object doesn't expose it) — NOT ``id(bc.value)``: if a deserialized
# broadcast dict were ever GC'd (``bc.unpersist()``, many distinct
# dictionaries) a later dict could be allocated at the same address
# and silently serve the WRONG automaton.  The single slot also
# bounds memory across jobs that ship different dictionaries through
# one long-lived worker.
_AC_CACHE: list = [(None, None)]


def _ac_for(bcid: int, bc) -> "AhoCorasick":
    cached_id, ac = _AC_CACHE[0]
    if cached_id != bcid:
        ac = AhoCorasick(sorted(bc.value))
        _AC_CACHE[0] = (bcid, ac)
    return ac


def detect_mentions_substring(
    turns: DataFrame, entities: DataFrame, text_col: str = "text",
    key_cols: tuple = ("conv_id", "turn_idx"),
) -> DataFrame:
    """Substring (non-token-aligned) mention detection: every char
    position where a dictionary alias occurs in the lowercased turn
    text, matched with ONE Aho-Corasick pass per row — alternative to
    the token-n-gram join of :func:`detect_mentions` for dictionaries
    whose aliases cross token boundaries.

    Output mirrors ``detect_mentions`` (``pos`` is a CHAR offset and
    ``n_gram`` the alias char length, so :func:`link_entities`'s
    scoring + longest-match work unchanged at char granularity).
    The dictionary ships via ``SparkContext.broadcast`` (torrent
    transport: ONE copy per executor, not a per-task closure pickle —
    the difference between bounded and per-task-linear network cost at
    millions of aliases), and the automaton is built once per executor
    process from the broadcast value.  Key-column types in the output
    schema are taken from ``turns.schema`` so any (name, type) key
    combination round-trips through the Arrow batches unchanged."""
    ents = entities.select("entity_id", "iri", "alias", "ctx").collect()
    by_alias: dict = {}
    for r in ents:
        by_alias.setdefault(r.alias, []).append(
            (r.entity_id, r.iri, list(r.ctx)))
    bc = turns.sparkSession.sparkContext.broadcast(by_alias)
    bcid = int(bc._jbroadcast.id())

    out_schema = (
        ", ".join(f"{c} {turns.schema[c].dataType.simpleString()}"
                  for c in key_cols)
        + ", pos int, n_gram int, alias string, entity_id long,"
          " iri string, ctx array<string>, toks array<string>"
    )

    def run(batches):
        by_alias = bc.value
        ac = _ac_for(bcid, bc)
        for pdf in batches:
            rows = []
            for t in pdf.itertuples(index=False):
                text = str(getattr(t, text_col)).lower()
                toks = text.strip().split()
                keys = tuple(getattr(t, c) for c in key_cols)
                for start, pat in ac.finditer(text):
                    for eid, iri, ctx in by_alias[pat]:
                        rows.append(
                            (*keys, start, len(pat), pat, eid, iri,
                             ctx, toks))
            import pandas as pd

            yield pd.DataFrame(
                rows, columns=[*key_cols, "pos", "n_gram", "alias",
                               "entity_id", "iri", "ctx", "toks"])

    return turns.select(*key_cols, text_col) \
        .mapInPandas(run, schema=out_schema)


def link_entities(
    mentions: DataFrame, key_cols: tuple = ("conv_id", "turn_idx"),
    keep_toks: bool = False,
) -> DataFrame:
    """Entity-link scoring: for each mention (turn + position +
    alias), rank candidate entities by

    ``score = ctx_hits + 1 / n_candidates``

    — context-keyword overlap with the turn's tokens dominates;
    alias specificity (unambiguous aliases score higher) breaks
    context ties; entity_id breaks exact ties deterministically.
    Longer grams win over shorter ones at the same position (the
    standard longest-match rule), so a 2-gram mention suppresses the
    1-gram mentions it covers.

    ``keep_toks=True`` carries the turn's token array through to the
    output (constant per mention, taken with ``first``) so a
    downstream stage — :func:`extract_relations` — can inspect the
    tokens BETWEEN mentions without rejoining the corpus."""
    n_cand = F.count("*").over(
        Window.partitionBy(*key_cols, "pos", "n_gram", "alias"))
    scored = mentions.withColumn(
        "score",
        F.round(F.size(F.array_intersect("toks", "ctx"))
                + 1.0 / n_cand, 6))
    w = Window.partitionBy(*key_cols, "pos", "n_gram", "alias").orderBy(
        F.col("score").desc(), F.col("entity_id").asc())
    drop = ["_rn", "ctx"] if keep_toks else ["_rn", "toks", "ctx"]
    best = scored.withColumn("_rn", F.row_number().over(w)) \
        .where(F.col("_rn") <= 1).drop(*drop)
    # longest-match: drop a k-gram mention if a longer linked gram
    # covers any of its positions (covered = [pos, pos + n_gram)).
    # Formulated as explode-covered-positions → per-position max
    # cover via a window → per-mention max of those → filter.  A
    # self-anti-join of `best` against its own multi-word subset
    # expands the whole detect chain TWICE in the physical plan (a
    # mapInPandas-free chain, but still two full passes cold); this
    # form evaluates `best` once.  A mention survives iff no position
    # it covers is also covered by a strictly longer mention.
    mention_cols = [*key_cols, "pos", "n_gram", "alias",
                    "entity_id", "iri", "score"]
    exploded = best.select(
        *mention_cols, *(["toks"] if keep_toks else []),
        F.explode(F.sequence(
            F.col("pos"), F.col("pos") + F.col("n_gram") - 1))
        .alias("_cover_pos"))
    w_pos = Window.partitionBy(*key_cols, "_cover_pos")
    aggs = [F.max("_mx").alias("_maxcover")]
    if keep_toks:
        aggs.append(F.first("toks").alias("toks"))
    keep = (
        exploded.withColumn("_mx", F.max("n_gram").over(w_pos))
        .groupBy(*mention_cols)
        .agg(*aggs)
        .where(F.col("n_gram") == F.col("_maxcover"))
    )
    out_cols = [*mention_cols, "toks"] if keep_toks else mention_cols
    return keep.select(*out_cols)


def mentions_to_triples(
    linked: DataFrame, key_cols: tuple = ("conv_id", "turn_idx"),
    pred: str = MENTIONS_PRED,
) -> DataFrame:
    """Triple emission: (turn IRI, kg:mentions, entity IRI) — the
    mention→(s, p, o) fan-out reusing the O-15 explode shape; distinct
    because an entity mentioned twice in a turn is one edge."""
    conv, idx = key_cols
    return linked.select(
        F.concat(F.lit("urn:conv:"), F.col(conv),
                 F.lit(":turn:"), F.col(idx).cast("string")).alias("s"),
        F.lit(pred).alias("p"),
        F.col("iri").alias("o"),
    ).distinct()


def comention_edges(
    linked: DataFrame, key_cols: tuple = ("conv_id", "turn_idx"),
) -> DataFrame:
    """Weighted co-occurrence graph over linked mentions: one edge
    per unordered entity pair that appears in the same turn, weighted
    by the number of distinct turns co-mentioning them — the KG edge
    layer that feeds the graph analytics (``operators/graph.py``).

    Per-turn entity sets are small (mentions, not tokens), so the
    within-turn pair join is bounded by mentions-per-turn squared —
    never a corpus-scale product; the aggregation is one shuffle keyed
    by the entity pair with map-side combine."""
    uniq = linked.select(*key_cols, "iri").distinct()
    a = uniq.select(*key_cols, F.col("iri").alias("iri_a"))
    b = uniq.select(*key_cols, F.col("iri").alias("iri_b"))
    return (
        a.join(b, list(key_cols))
        .where(F.col("iri_a") < F.col("iri_b"))
        .groupBy("iri_a", "iri_b")
        .agg(F.count("*").cast("long").alias("n_turns"))
    )


def extract_relations(
    linked: DataFrame, patterns: DataFrame,
    key_cols: tuple = ("conv_id", "turn_idx"), max_gap: int = 4,
) -> DataFrame:
    """Pattern-based relation extraction between linked mentions:
    for every ordered mention pair (m₁ strictly before m₂) in the same
    turn, the token GAP between them is matched against a broadcast
    pattern table ``(gap_text: string, pred: string)``; a hit emits
    the triple (m₁'s IRI, pred, m₂'s IRI) — the Hearst-style surface
    pattern stage that turns co-mentions into TYPED edges.

    ``linked`` must come from ``link_entities(..., keep_toks=True)``
    (token-n-gram path: ``pos`` is a token index) so the gap slice
    needs no rejoin to the corpus.  ``max_gap`` bounds the pair join
    (relations span a few tokens, not whole documents), keeping the
    within-turn product mentions × nearby-mentions, never mentions².
    Output: key_cols + (s, p, o), distinct per turn."""
    a = linked.select(
        *key_cols, F.col("pos").alias("_pa"),
        F.col("n_gram").alias("_ga"), F.col("iri").alias("s"), "toks")
    b = linked.select(
        *key_cols, F.col("pos").alias("_pb"), F.col("iri").alias("o"))
    gap_start = F.col("_pa") + F.col("_ga")   # 0-based, exclusive of m1
    gap_len = F.col("_pb") - gap_start
    pairs = (
        a.join(b, list(key_cols))
        .where((gap_len >= 0) & (gap_len <= max_gap))
        .withColumn("gap_text", F.concat_ws(
            " ", F.slice(F.col("toks"), gap_start + 1, gap_len)))
    )
    return (
        pairs.join(F.broadcast(patterns), "gap_text")
        .select(*key_cols, "s", F.col("pred").alias("p"), "o")
        .distinct()
    )


def _graph_scope(
    triples: DataFrame, graph: str | None, carry_graph: bool,
) -> DataFrame:
    """Shared GRAPH-clause plumbing for the BGP verbs: a constant
    ``graph`` is SPARQL's ``GRAPH <iri> { … }`` (one more scan-pushed
    equality filter); ``carry_graph`` is ``GRAPH ?g { … }`` — the
    caller then keys every arm join on ``(g, s)`` so all arms of the
    pattern match within the SAME named graph and ``?g`` rides along
    as an output binding.  Either form requires the quad column ``g``
    (parsed from TriG/NQ corpora); triple-only tables are rejected
    rather than silently matched across graphs."""
    if graph is None and not carry_graph:
        return triples
    if "g" not in triples.columns:
        raise ValueError(
            "GRAPH-scoped pattern needs a 'g' column (parse a"
            " TriG/NQ corpus, or drop graph=/carry_graph=)")
    if graph is not None:
        triples = triples.where(F.col("g") == graph)
    return triples


def _is_bgp_var(term) -> bool:
    return isinstance(term, str) and term.startswith("?")


def _const_subject_var(term: str) -> str:
    """Internal binding name for a CONSTANT subject — deterministic
    per constant, so arms (and OPTIONAL/EXISTS groups) naming the
    same constant subject correlate on it like a shared variable."""
    import hashlib

    return "__c" + hashlib.md5(term.encode()).hexdigest()[:8]


def _bgp_arm(t: DataFrame, pat, gcols: list):
    """One triple pattern as a binding DataFrame: constants become
    scan-pushed equality filters, variables become aliased binding
    columns, and a variable repeated WITHIN the arm (``?a p ?a``)
    becomes an in-arm equality filter.  A constant SUBJECT on an arm
    that binds at least one variable ALSO binds an internal
    per-constant column (:func:`_const_subject_var`), so the
    constant-subject star ``<s> p1 ?a ; p2 ?b`` joins on the shared
    constant — SPARQL's per-subject product, bounded by one
    subject's fan-out — instead of being rejected as disconnected
    (fully-ground patterns stay broadcast guards).  Returns
    ``(df, names)`` with ``names`` mapping variable → source
    position ('s'/'p'/'o')."""
    s, p, o = pat
    df = t
    names: dict[str, str] = {}
    for pos, term in (("s", s), ("p", p), ("o", o)):
        if _is_bgp_var(term):
            v = term[1:]
            if not v:
                raise ValueError(f"bare '?' variable in pattern {pat}")
            if v == "g":
                raise ValueError(
                    "variable name 'g' is reserved for carry_graph")
            if v in names:
                df = df.where(F.col(pos) == F.col(names[v]))
            else:
                names[v] = pos
        else:
            df = df.where(F.col(pos) == F.lit(term))
    if not _is_bgp_var(s) and names:
        names[_const_subject_var(s)] = "s"
    proj = list(gcols) + [F.col(pos).alias(v)
                          for v, pos in names.items()]
    if proj:
        df = df.select(*proj)
    return df, names


def _bgp_path_arm(t: DataFrame, pat, gcols: list,
                  carry_graph: bool):
    """One PROPERTY-PATH pattern as a binding arm of the composer —
    a pattern whose predicate position is a dict path spec instead
    of a term:

    - ``{"path": [hop, …]}`` — fixed sequence (``p1/p2/…``, hops in
      :func:`bgp_path`'s grammar: ``"^p"`` inverse, list
      alternation, ``"!p1|^p2"`` negated set)
    - ``{"path": hop, "min": n, "max": m}`` — quantified repetition
      (``p{n,m}``; ``"max": None`` for the ``p*``/``p+`` closures;
      optional ``"max_iters"`` forwards the closure backstop).
      The quantified hop must be a STRING (``"p"``, ``"^p"``,
      ``"!…"``): a quantified LIST is ambiguous (the sequence
      reading ``(p/q){n,m}`` vs the alternation ``(p|q){n,m}``) and
      is rejected — spell alternation with ``"alt"``, and compose
      a quantified SEQUENCE from :func:`bgp_path` + this operator
    - ``{"alt": [p1, p2, …], "min": n, "max": m}`` — quantified
      alternation ``(p1|p2){n,m}`` (without min/max: the single
      alternation hop, same as ``{"path": [[p1, p2]]}``)

    Endpoint terms follow the normal pattern grammar: variables
    bind, constants filter — pushed into the scan for fixed
    sequences, and for QUANTIFIED forms a constant endpoint
    SEEDS the walk (:func:`_quant_pairs`) so ``<seed> knows+ ?z``
    never materializes the all-pairs closure — and the same variable
    at both ends (``?a p+ ?a`` — cycle membership) becomes an equality
    filter.  Returns the same ``(df, names)`` shape as
    :func:`_bgp_arm`."""
    s, spec, o = pat
    q = dict(spec)
    hops = q.pop("path", None)
    alt = q.pop("alt", None)
    n_min, n_max = q.pop("min", None), q.pop("max", "_absent")
    max_iters = q.pop("max_iters", 30)
    if q:
        raise ValueError(f"unknown path-spec keys {sorted(q)} in"
                         f" pattern {pat!r} (expected 'path' or"
                         f" 'alt', 'min', 'max', 'max_iters')")
    if (hops is None) == (alt is None):
        raise ValueError(f"path spec needs exactly one of 'path' or"
                         f" 'alt': {pat!r}")
    if alt is not None and not isinstance(alt, list):
        raise ValueError(f"'alt' must be a list of hop strings:"
                         f" {pat!r}")
    quant = n_min is not None or n_max != "_absent"
    if not quant:
        seq = ([alt] if alt is not None
               else hops if isinstance(hops, list) else [hops])
        df = bgp_path(t, seq, out_cols=("_pa", "_pz"),
                      carry_graph=carry_graph)
    else:
        if alt is None and not isinstance(hops, str):
            raise ValueError(
                f"quantified 'path' must be a single hop string in"
                f" {pat!r} — a list is ambiguous between the"
                f" sequence (p/q){{n,m}} and the alternation"
                f" (p|q){{n,m}}; use 'alt' for alternation, or"
                f" compose a quantified sequence from a fixed"
                f" {{'path': [...]}} arm joined to a quantified one")
        hop = alt if alt is not None else hops
        nmin = n_min if n_min is not None else 0
        nmax = None if n_max == "_absent" else n_max
        if nmax is not None and nmax < nmin:
            raise ValueError(f"max={nmax} < min={nmin} in {pat!r}")
        if nmax is None and nmin > 1:
            raise ValueError(
                f"min > 1 with unbounded max in {pat!r}: compose"
                f" the fixed prefix with a {{'path': […]}} arm"
                f" (p{{2,}} == p/p+)")
        # constant endpoint: walk from its own step edges instead of
        # materializing the all-pairs closure and post-filtering (the
        # filter cannot cross the closure's localCheckpoint barrier) —
        # instance-scale seeded reachability stays frontier-bounded;
        # a constant OBJECT walks the reversed step table
        seed, rev = None, False
        if not _is_bgp_var(s):
            seed = s
        elif not _is_bgp_var(o):
            seed, rev = o, True
        df = _quant_pairs(t, hop, nmin, nmax, max_iters, gcols,
                          seed, rev) \
            .select(*gcols, F.col("_a").alias("_pa"),
                    F.col("_z").alias("_pz")).distinct()
    names: dict[str, str] = {}
    for pos, term in (("_pa", s), ("_pz", o)):
        if _is_bgp_var(term):
            v = term[1:]
            if not v:
                raise ValueError(f"bare '?' variable in {pat!r}")
            if v == "g":
                raise ValueError(
                    "variable name 'g' is reserved for carry_graph")
            if v in names:
                df = df.where(F.col(pos) == F.col(names[v]))
            else:
                names[v] = pos
        else:
            df = df.where(F.col(pos) == F.lit(term))
    if not _is_bgp_var(s) and names:
        names[_const_subject_var(s)] = "_pa"
    df = df.select(*gcols, *(F.col(pos).alias(v)
                             for v, pos in names.items()))
    return df, names


def _bgp_join_tree(
    t: DataFrame, patterns: list, gcols: list,
) -> tuple:
    """Greedy selectivity-ordered join tree over a pattern
    conjunction — the shared planner of :func:`bgp` (required,
    OPTIONAL, EXISTS and NOT-EXISTS groups alike).  Returns
    ``(plan, bound_vars, order, guard_arms)``: ``plan`` is the
    joined binding DataFrame (None when every pattern is fully
    ground), ``bound_vars`` the set of variables it binds, ``order``
    their first-appearance order, and ``guard_arms`` the
    filtered-but-variable-free DataFrames of fully-ground patterns
    (ASK-style guards), for the caller to fold in as broadcast
    existence flags.  Disconnected conjunctions raise rather than
    cross-product.  A pattern whose predicate position is a dict is
    a PROPERTY-PATH arm (see :func:`_bgp_path_arm`) — paths compose
    with plain conjunction (``?x knows+ ?y . ?y name ?n``), ordered
    last among equally-bound arms (a closure's cardinality estimate
    is the weakest)."""
    arms, order = [], []
    for pat in patterns:
        if len(pat) != 3:
            raise ValueError(f"pattern must be (s, p, o): {pat!r}")
        s, p, o = pat
        if isinstance(p, dict):
            df, names = _bgp_path_arm(t, pat, gcols,
                                      carry_graph=bool(gcols))
            bound = (4 * (not _is_bgp_var(s))
                     + 2 * (not _is_bgp_var(o)) - 1)
        else:
            df, names = _bgp_arm(t, pat, gcols)
            bound = (4 * (not _is_bgp_var(s))
                     + 2 * (not _is_bgp_var(o))
                     + (not _is_bgp_var(p)))
        subj = next((v for v, pos in names.items()
                     if pos in ("s", "_pa")), None)
        arms.append((df, names, bound, subj))
        for v in names:
            if v not in order and not v.startswith("__c"):
                order.append(v)

    remaining = set(range(len(arms)))
    guards = {i for i in remaining if not arms[i][1]}
    binding = remaining - guards
    if binding:
        start = max(binding,
                    key=lambda i: (arms[i][2], -i))
        plan, bound_vars = arms[start][0], set(arms[start][1])
        binding.discard(start)
        while binding:
            cands = [i for i in binding
                     if set(arms[i][1]) & bound_vars]
            if not cands:
                miss = [patterns[i] for i in sorted(binding)]
                raise ValueError(
                    f"disconnected BGP (cartesian product) — these"
                    f" patterns share no variable with the rest:"
                    f" {miss}; evaluate them as a separate bgp() and"
                    f" crossJoin explicitly if a product is intended")
            nxt = max(cands, key=lambda i: (
                arms[i][3] in bound_vars, arms[i][2], -i))
            shared = sorted(set(arms[nxt][1]) & bound_vars)
            plan = plan.join(arms[nxt][0], gcols + shared)
            bound_vars |= set(arms[nxt][1])
            binding.discard(nxt)
    else:
        plan, bound_vars = None, set()
    return plan, bound_vars, order, [arms[i][0] for i in sorted(guards)]


def bgp(
    triples: DataFrame, patterns: list,
    select: list | None = None,
    optional: list | None = None,
    filters: list | None = None,
    exists: list | None = None,
    not_exists: list | None = None,
    bind: dict | None = None,
    graph: str | None = None, carry_graph: bool = False,
) -> DataFrame:
    """Generic basic-graph-pattern composer: evaluate an ARBITRARY
    conjunction of triple patterns with free variable sharing — the
    workhorse shape of every SPARQL engine built over the statement
    stream (the reference's downstream consumers index exactly the
    (s, p, o) tuple this composes on, include/serd/serd.h:576-584).
    The one pattern evaluator of the read side: a star is
    all-arms-share-``?s`` (``?s p1 ?o1 . ?s p2 ?o2``), a 2-hop chain
    is ``?a p1 ?b . ?b p2 ?c`` with ``select=["a", "c"]``, and the
    same call evaluates triangles/cycles, star⋈chain mixes and
    variable-predicate arms.

    Each pattern is a ``(s, p, o)`` term triple: a term starting
    with ``?`` is a variable (same name = same binding across arms,
    standard BGP join semantics; repeated within one arm = in-arm
    equality); any other string is a constant matched by equality.
    Output: DISTINCT rows over ``select`` (default: every variable
    in first-appearance order), plus a leading ``g`` column with
    ``carry_graph``.

    Planning: arms are joined greedily by ESTIMATED selectivity —
    the classic bound-term heuristic (Stocker et al., WWW 2008):
    start from the arm with the most constants (subject > object >
    predicate weight), then repeatedly attach the candidate sharing
    a variable with the bound set, preferring arms whose SHARED
    variable sits in their subject position (those joins ride a
    subject-bucketed layout exchange-free) and then more-constant
    arms.  Patterns sharing NO variable with the rest are rejected
    (``ValueError``) rather than silently cross-producted — at
    corpus scale a cartesian is an outage, and SPARQL users who
    really mean a product can compose two ``bgp`` calls with an
    explicit ``crossJoin``.  Exception: arms naming the SAME
    CONSTANT SUBJECT count as connected (``<s> p1 ?a . <s> p2 ?b``
    joins on the shared constant — the per-subject product SPARQL
    specifies, bounded by one subject's fan-out, exactly the star
    ``?s p1 ?a . ?s p2 ?b`` restricted to one subject); DISTINCT
    constant subjects still raise.  A fully-ground pattern (no variables)
    is the ASK-style guard: it filters the whole result to empty
    when absent, joined as a broadcast one-row existence flag, never
    a data-sized product.

    Scale shape: each arm is ONE scan of the materialized triple
    table with every constant pushed as an equality PushedFilter
    (constant-predicate arms are the classic triple-store
    selectivity win); the join tree is hash joins keyed on shared
    variables only — bindings project to named columns immediately,
    so shuffle width is the variable count, not the table width.
    All-subject-shared patterns (stars) reuse ONE partitioning
    across every arm and plan with zero Exchange over a
    subject-bucketed table (test-pinned); nothing is a cartesian
    and no side is assumed broadcastable.

    ``optional`` is a list of pattern GROUPS — each a list of triple
    patterns forming one SPARQL ``OPTIONAL { … }`` clause, left-joined
    to the required solutions on the variables it shares with the
    REQUIRED patterns: subjects missing the optional sub-pattern keep
    their rows with NULL in the group's new columns, matching rows
    fan out (standard OPTIONAL semantics).  Each group must share at
    least one variable with the required patterns, and may not reuse
    a variable another optional group introduced (joining optional
    arms through each other's possibly-NULL bindings is the
    spec-divergence trap documented on :func:`bgp_minus`; SPARQL's
    nested-OPTIONAL forms that genuinely need it should nest
    explicit joins instead).  Because every join key is
    required-bound — never NULL — the plain left join IS the
    spec-exact left-outer-join semantics here, with no unbound-
    compatibility caveat.  A one-pattern group ``[("?s", p, "?o")]``
    is an OPTIONAL star arm (a left join on ``s``, exchange-free over
    a subject-bucketed table), and a multi-pattern group is an
    OPTIONAL sub-CHAIN (``OPTIONAL { ?o :cust ?c . ?c :nation ?n }``).

    A pattern whose PREDICATE position is a dict is a property-path
    arm (see :func:`_bgp_path_arm`): ``{"path": [h1, h2]}`` for the
    fixed sequence ``h1/h2``, ``{"path": h, "min": n, "max": m}``
    for the quantified forms incl. ``"max": None`` closures — so
    paths compose with conjunction (``?x knows+ ?y . ?y name ?n``),
    OPTIONAL, EXISTS and NOT EXISTS, the SPARQL 1.1 mixing the fixed
    path verbs can't express alone.

    ``filters`` is a list of SQL expression strings over the
    variable columns — SPARQL ``FILTER`` (``"n <> 'x'"``,
    ``"o < c"``, ``regexp``, ``c IS NOT NULL`` for ``BOUND(?c)``),
    applied to the solution AFTER optional groups, standard
    top-level FILTER placement.  Spark's NULL comparison semantics
    align with SPARQL's error-elimination: a comparison on an
    unbound (NULL, from OPTIONAL) variable is NULL → row removed,
    exactly the spec's type-error-eliminates behavior.  Catalyst
    pushes each conjunct below the joins it permits — a filter on
    one arm's variable reaches that arm's scan.

    ``exists``/``not_exists`` are lists of pattern GROUPS in the
    same grammar — SPARQL ``FILTER EXISTS { … }`` / ``FILTER NOT
    EXISTS { … }``: one semi / anti hash join per group on the
    variables shared with the REQUIRED patterns (required-bound
    keys are never NULL, so the join IS the spec's compatibility
    test; groups touching OPTIONAL-introduced variables are
    rejected — even alongside required anchors, since joining on
    the required subset alone would silently drop the optional
    correlation — route NULL-aware subtraction through
    :func:`bgp_minus` ``compat='partial'``).  "Subjects lacking a
    property" is ``not_exists=[[("?s", absent_pred, "?_x")]]``: a
    left anti join on ``s`` that reads only the negated arm's keys.
    Groups sharing no variable at all are rejected too (an
    existence test detached from the bindings is an ASK — run it as
    a ground-pattern guard or its own bgp).

    ``bind`` maps NEW variable names to SQL expressions over the
    bound columns — SPARQL ``BIND(expr AS ?v)``
    (``{"pair": "concat(c, '/', n)"}``); computed after
    OPTIONAL/EXISTS/filters (top-level BIND placement), selectable
    like any variable, pure projection (no exchange).  Rebinding an
    existing variable is rejected (the spec's in-scope-variable
    error).

    ``graph``/``carry_graph`` add the SPARQL GRAPH clause (see
    :func:`_graph_scope`): with ``carry_graph`` every arm carries
    ``g`` and every join adds ``g`` to its key, so all arms match
    within the SAME named graph; arms connected ONLY through ``g``
    still count as disconnected (a per-graph cartesian is still a
    cartesian).  Optional groups join per named graph too (``g``
    rides every left-join key), and EXISTS/NOT-EXISTS groups test
    within the solution's own named graph."""
    if not patterns:
        raise ValueError("patterns must be non-empty")
    t = _graph_scope(triples, graph, carry_graph)
    gcols = ["g"] if carry_graph else []

    plan, bound_vars, order, guard_arms = _bgp_join_tree(
        t, patterns, gcols)

    for i, garm in enumerate(guard_arms):
        flag = f"_guard{i}"
        if carry_graph:
            g = garm.select("g", F.lit(1).alias(flag)).distinct()
            plan = (g if plan is None
                    else plan.join(g, "g")).drop(flag)
        else:
            g = garm.limit(1).select(F.lit(1).alias(flag))
            plan = (g if plan is None
                    else plan.crossJoin(F.broadcast(g))).drop(flag)

    if optional:
        if not bound_vars:
            raise ValueError(
                "optional groups need at least one variable-binding"
                " required pattern to left-join against")
        opt_new: set = set()
        for group in optional:
            if not group:
                raise ValueError("optional group must be non-empty")
            sub, sub_vars, sub_order, sub_guards = _bgp_join_tree(
                t, group, gcols)
            if sub_guards:
                raise ValueError(
                    "fully-ground pattern inside an OPTIONAL group is"
                    " a no-op guard — move it to the required"
                    " patterns")
            collide = sorted(sub_vars & opt_new)
            if collide:
                raise ValueError(
                    f"OPTIONAL group {group} reuses variables"
                    f" introduced by another optional group:"
                    f" {collide} — join through required-bound"
                    f" variables only, or nest explicit joins")
            shared = sorted(sub_vars & (bound_vars - opt_new))
            if not shared:
                raise ValueError(
                    f"OPTIONAL group {group} shares no variable with"
                    f" the required patterns")
            plan = plan.join(sub, gcols + shared, "left")
            new = sub_vars - bound_vars
            opt_new |= new
            bound_vars |= sub_vars
            order.extend(v for v in sub_order if v not in order)
    else:
        opt_new = set()

    for groups, how, kw in ((exists, "left_semi", "EXISTS"),
                            (not_exists, "left_anti", "NOT EXISTS")):
        for group in (groups or []):
            if not group:
                raise ValueError(f"{kw} group must be non-empty")
            if not bound_vars:
                raise ValueError(
                    f"{kw} groups need at least one variable-binding"
                    f" required pattern to test against")
            sub, sub_vars, _, sub_guards = _bgp_join_tree(
                t, group, gcols)
            if sub_guards:
                raise ValueError(
                    f"fully-ground pattern inside a {kw} group —"
                    f" move it to the required patterns as a guard")
            touched = sorted(sub_vars & opt_new)
            if touched:
                # reject ANY optional-variable contact, not just
                # exclusively-optional groups: joining on the
                # required subset alone would silently DROP the
                # correlation on the optional variable (EXISTS
                # {?o q ?c} with ?c optional-bound must substitute
                # the bound ?c, not accept any q-edge of ?o)
                raise ValueError(
                    f"{kw} group {group} references OPTIONAL-"
                    f"introduced (nullable) variables {touched} —"
                    f" NULL join keys diverge from SPARQL's unbound"
                    f" compatibility and a required-only join drops"
                    f" the correlation; use bgp_minus(compat="
                    f"'partial') for NULL-aware subtraction, or"
                    f" rename the group's variable if no"
                    f" correlation is intended")
            shared = sorted(sub_vars & (bound_vars - opt_new))
            if not shared:
                raise ValueError(
                    f"{kw} group {group} shares no variable with the"
                    f" required patterns — an unanchored existence"
                    f" test is an ASK; run it as its own bgp() or a"
                    f" ground-pattern guard")
            plan = plan.join(sub, gcols + shared, how)

    for f in (filters or []):
        plan = plan.where(F.expr(f))

    for v, expr in (bind or {}).items():
        v = v.lstrip("?")
        if v == "g":
            raise ValueError(
                "variable name 'g' is reserved for carry_graph")
        if v in bound_vars:
            raise ValueError(
                f"BIND target ?{v} is already in scope — SPARQL"
                f" forbids rebinding; pick a fresh variable")
        plan = plan.withColumn(v, F.expr(expr))
        bound_vars.add(v)
        order.append(v)

    if not bound_vars and not carry_graph and select is None:
        # all-ground ASK-style bgp: one row when every guard holds
        return plan.select(F.lit(True).alias("matched"))

    out = [v.lstrip("?") for v in (select if select is not None
                                   else order)]
    bad = [v for v in out if v not in bound_vars]
    if bad:
        raise ValueError(f"select names unbound variables: {bad}")
    return plan.select(*gcols, *out).distinct()


def bgp_union(
    triples: DataFrame, groups: list,
    select: list | None = None,
    graph: str | None = None, carry_graph: bool = False,
) -> DataFrame:
    """SPARQL ``UNION``: evaluate each pattern group as its own
    basic graph pattern (via :func:`bgp`) and take the union of the
    solution sets, aligned BY VARIABLE NAME — a variable unbound in
    some branch yields NULL there (SPARQL's unbound), exactly the
    alternation every real query mixes with conjunction
    (``{ ?d :license ?l } UNION { ?d :rights ?l }``, differing-arity
    branches included).  Output: distinct rows over ``select``
    (default: every variable of every branch, first-appearance order
    across branches), plus a leading ``g`` column with
    ``carry_graph``.  Set semantics (DISTINCT), consistent with the
    other BGP verbs.

    Each group is a pattern list in :func:`bgp`'s grammar (shared
    variable names across branches mean the same output column, NOT
    a cross-branch join — UNION branches evaluate independently).

    Scale shape: branches are independent BGP join trees (each
    arm's constants scan-pushed, hash joins on shared variables
    only) glued by a zero-shuffle ``unionByName`` — missing columns
    materialize as NULL literals, no exchange is added, and the
    trailing distinct is the only union-level shuffle (width = the
    variable count).  Branch count is query-sized, never data-sized.

    ``graph``/``carry_graph`` scope every branch identically (see
    :func:`_graph_scope`); with ``carry_graph`` each branch matches
    within one named graph and ``g`` aligns across branches."""
    if not groups:
        raise ValueError("groups must be non-empty")
    gcols = ["g"] if carry_graph else []
    sols, order = [], []
    for group in groups:
        d = bgp(triples, group, graph=graph, carry_graph=carry_graph)
        sols.append(d)
        order.extend(c for c in d.columns
                     if c not in gcols and c not in order)
    out = sols[0]
    for d in sols[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    cols = [v.lstrip("?") for v in (select if select is not None
                                    else order)]
    bad = [v for v in cols if v not in order]
    if bad:
        raise ValueError(f"select names variables bound in no"
                         f" branch: {bad}")
    return out.select(*gcols, *cols).distinct()


def bgp_agg(
    triples: DataFrame, patterns: list,
    group_by: list, aggs: dict,
    having: str | None = None,
    optional: list | None = None,
    filters: list | None = None,
    exists: list | None = None,
    not_exists: list | None = None,
    graph: str | None = None, carry_graph: bool = False,
) -> DataFrame:
    """SPARQL aggregation: ``SELECT ?k (AGG(?v) AS ?out) WHERE
    { … } GROUP BY ?k [HAVING …]`` over the generic composer — the
    analytics form every KG workload ends in (mention counts per
    entity, degree summaries, per-class rollups).

    ``group_by`` lists the grouping variables (``["?k"]``; empty =
    one global group, SPARQL's implicit-group aggregate — one row
    even over zero solutions, COUNT()=0, exactly Spark's global
    aggregate).  ``aggs`` maps output column → spec tuple:

    - ``("count",)`` — COUNT(*)
    - ``("count", "?v")`` — COUNT(?v), non-NULL (bound) only
    - ``("count_distinct", "?v")`` — COUNT(DISTINCT ?v)
    - ``("sum"|"avg"|"min_num"|"max_num", "?v")`` — numeric
      aggregates; the RDF term column is cast to double first, and
      non-numeric lexical forms become NULL and are skipped (the
      spec makes them aggregate errors; skipping is this engine's
      documented lax treatment, matching the oracle's TRY_CAST)
    - ``("min"|"max", "?v")`` — term-ordering min/max (plain string
      comparison, the SPARQL codepoint order for IRIs/simple
      literals)
    - ``("group_concat", "?v"[, sep])`` — values sorted then joined
      (the spec leaves order undefined; sorting makes the result
      DETERMINISTIC and oracle-comparable)
    - ``("sample", "?v")`` — any value; implemented as MIN for
      determinism (the spec allows any)

    ``having`` is a SQL boolean expression over the OUTPUT columns
    (SPARQL HAVING).  All WHERE-side clauses (``optional``,
    ``filters``, ``exists``, ``not_exists``, GRAPH scoping) pass
    through to :func:`bgp`; with ``carry_graph`` the grouping is per
    named graph (``g`` joins the keys).

    Semantics note: the composer's solution set is DISTINCT
    bindings, which for a plain BGP is exactly the spec's solution
    multiset (each mapping matches once); aggregates here therefore
    run over distinct solutions.

    Scale shape: aggregation adds ONE hash exchange on the grouping
    keys, with map-side partial aggregation for every spec above
    except ``count_distinct`` (Spark plans a two-phase distinct
    expand); ``group_concat`` materializes per-group value lists —
    group sizes are the caller's cardinality contract, same as any
    ``collect_list``."""
    sol = bgp(triples, patterns, optional=optional, filters=filters,
              exists=exists, not_exists=not_exists,
              graph=graph, carry_graph=carry_graph)
    keys = (["g"] if carry_graph else []) \
        + [v.lstrip("?") for v in group_by]
    bad = [k for k in keys if k not in sol.columns]
    if bad:
        raise ValueError(f"group_by names unbound variables: {bad}")
    exprs = []
    for out, spec in aggs.items():
        if not isinstance(spec, tuple) or not spec:
            raise ValueError(f"agg spec for {out!r} must be a"
                             f" non-empty tuple, got {spec!r}")
        fn = spec[0]
        var = spec[1].lstrip("?") if len(spec) > 1 else None
        if var is None and fn != "count":
            raise ValueError(f"aggregate {fn!r} for {out!r} needs a"
                             f" variable: ({fn!r}, '?v')")
        if var is not None and var not in sol.columns:
            raise ValueError(f"agg {out!r} names unbound variable"
                             f" ?{var}")
        col = F.col(var) if var is not None else None
        # try_cast, not cast: ANSI mode makes a plain cast THROW on
        # the first non-numeric lexical form; the documented lax
        # treatment (skip) needs NULL
        num = (F.col(var).try_cast("double")
               if var is not None else None)
        if fn == "count":
            e = F.count(col) if var is not None else F.count(
                F.lit(1))
        elif fn == "count_distinct":
            e = F.count_distinct(col)
        elif fn == "sum":
            e = F.sum(num)
        elif fn == "avg":
            e = F.avg(num)
        elif fn == "min_num":
            e = F.min(num)
        elif fn == "max_num":
            e = F.max(num)
        elif fn == "min":
            e = F.min(col)
        elif fn == "max":
            e = F.max(col)
        elif fn == "group_concat":
            sep = spec[2] if len(spec) > 2 else " "
            e = F.array_join(F.array_sort(F.collect_list(col)), sep)
        elif fn == "sample":
            e = F.min(col)
        else:
            raise ValueError(f"unknown aggregate {fn!r} for {out!r}")
        exprs.append(e.alias(out))
    if not exprs:
        raise ValueError("aggs must be non-empty")
    out_df = sol.groupBy(*keys).agg(*exprs)
    if having:
        out_df = out_df.where(F.expr(having))
    return out_df


def characteristic_sets(triples: DataFrame) -> DataFrame:
    """Characteristic sets (Neumann & Moerkotte, ICDE 2011): for
    each subject, its sorted distinct predicate set; then how many
    subjects share each set — THE triple-store statistic for star-
    join cardinality estimation (a planner reads "12M subjects have
    exactly {type, status, cust}" and prices a 3-arm star without
    touching data), and for KG QUALITY auditing (a tiny stray set =
    schema drift / extraction bugs).

    Output: (char_set, n_subjects) with ``char_set`` the
    ``|``-joined sorted predicate IRIs — a scalar string, so the
    contract gate can hash it.

    Scale shape: ONE aggregation keyed by ``s`` (exchange-free over
    a subject-bucketed table; map-side-combined ``collect_set`` is
    bounded by a subject's distinct predicate count, dozens not
    millions) into one aggregation over the set strings, whose
    cardinality is the number of DISTINCT schema shapes — tiny by
    construction.  No explode, no join."""
    per_s = triples.groupBy("s").agg(
        F.array_join(F.array_sort(F.collect_set("p")), "|")
        .alias("char_set"))
    return per_s.groupBy("char_set").agg(
        F.count("*").cast("long").alias("n_subjects"))


def bgp_path(
    triples: DataFrame, preds: list,
    out_cols: tuple = ("a", "z"),
    graph: str | None = None, carry_graph: bool = False,
) -> DataFrame:
    """Sequence property path: ``?a p1/p2/…/pk ?z`` — the SPARQL 1.1
    path expression generalizing the 2-hop :func:`bgp` chain
    (``?a p1 ?b . ?b p2 ?z``) to any fixed hop count
    (order→customer→nation→region, doc→entity→class→ontology).
    Output: distinct (a, z).  For the UNBOUNDED form (``p+``) use
    :func:`serd_spark.operators.graph.bfs_levels`; this is the
    fixed-length chain, which needs no fixpoint.

    Each hop spec is a predicate string, ``"^pred"`` for the INVERSE
    path (``^p`` traverses object→subject — "orders OF a customer"),
    or a list of either for ALTERNATION (``(p1|p2)`` — each
    alternative keeps its own direction, so ``["region",
    "^nation"]`` is SPARQL's ``(region|^nation)``).  A hop string
    starting with ``!`` is a NEGATED property set
    (``"!p1|^p2"`` ≡ SPARQL ``!(p1|^p2)``: forward edges whose
    predicate is not p1, plus reverse edges whose predicate is not
    p2; each direction's arm exists only if the set names it).

    Scale shape: each hop is one isin/equality predicate filter
    (pushed to the scan of a materialized triple table; an
    alternation is ONE scan with an IN filter per direction, not a
    scan per alternative), chained by k−1 hash joins each keyed on
    the current frontier node.  Intermediate nodes project away
    immediately, so the shuffled width stays two columns per hop
    regardless of k.  Nothing is a cartesian and no side is assumed
    broadcastable; hop joins key alternately on ``s``/``o`` so only
    the first forward hop rides a subject-bucketed layout — the path
    join is the case FOR predicate-partitioned secondary layouts,
    which this operator reads as-is.

    ``graph``/``carry_graph`` add the SPARQL GRAPH clause (see
    :func:`_graph_scope`): with ``carry_graph`` the WHOLE path must
    lie within ONE named graph — every hop join keys on
    ``(g, node)``, so a chain that crosses graphs never matches —
    and the output grows a leading ``g`` column."""
    if not preds:
        raise ValueError("preds must be non-empty")

    t = _graph_scope(triples, graph, carry_graph)
    gcols = ["g"] if carry_graph else []
    oa, oz = out_cols
    df = _path_hop(t, preds[0], oa, "_n", gcols)
    for spec in preds[1:]:
        df = df.join(_path_hop(t, spec, "_n", "_m", gcols),
                     gcols + ["_n"]) \
            .select(*gcols, oa, F.col("_m").alias("_n"))
    return df.select(*gcols, oa, F.col("_n").alias(oz)).distinct()


def _path_hop(triples: DataFrame, spec, src: str, dst: str,
              gcols: list | tuple = ()) -> DataFrame:
    """One property-path hop as an edge DataFrame (src, dst) — the
    shared hop grammar of :func:`bgp_path` and
    :func:`bgp_path_quant`: a predicate string, ``"^pred"`` for the
    inverse direction, a list for alternation, or ``"!p1|^p2"`` for a
    negated property set.  Every form is an isin/equality predicate
    filter pushed to the scan (an alternation is ONE scan with an IN
    filter per direction, not a scan per alternative).  ``gcols``
    carries the named-graph column through for carry_graph callers
    (edges stay tagged with the graph they came from)."""
    gcols = list(gcols)

    def _sel(df, a, b):
        return df.select(*gcols, F.col(a).alias(src),
                         F.col(b).alias(dst))

    parts = []
    if isinstance(spec, str) and spec.startswith("!"):
        # SPARQL negated property set: ``!(p1|^p2|…)`` —
        # forward edges whose predicate is NOT among the forward
        # members, plus (iff the set has ^-members) reverse
        # edges whose predicate is not among those.  The NOT-IN
        # filter pushes to the scan like the positive isin.
        items = [x for x in spec[1:].split("|") if x]
        if not items:
            raise ValueError("negated property set must be "
                             "non-empty: '!p1|^p2|…'")
        fex = [p for p in items if not p.startswith("^")]
        iex = [p[1:] for p in items if p.startswith("^")]
        if fex:
            parts.append(_sel(triples.where(~F.col("p").isin(fex)),
                              "s", "o"))
        if iex:
            parts.append(_sel(triples.where(~F.col("p").isin(iex)),
                              "o", "s"))
    else:
        alts = [spec] if isinstance(spec, str) else list(spec)
        if not alts:
            raise ValueError("alternation hop must be non-empty")
        fwd = [p for p in alts if not p.startswith("^")]
        inv = [p[1:] for p in alts if p.startswith("^")]
        if fwd:
            parts.append(_sel(triples.where(F.col("p").isin(fwd)),
                              "s", "o"))
        if inv:
            parts.append(_sel(triples.where(F.col("p").isin(inv)),
                              "o", "s"))
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


def bgp_path_quant(
    triples: DataFrame, spec, n_min: int, n_max: int | None = None,
    out_cols: tuple = ("a", "z"), max_iters: int = 30,
    graph: str | None = None, carry_graph: bool = False,
) -> DataFrame:
    """Quantified / closure property paths — the repetition forms of
    SPARQL 1.1 path syntax that :func:`bgp_path` (fixed chains) and
    :func:`serd_spark.operators.graph.bfs_levels` (seeded ``p+``)
    don't cover with both ends unbound:

    - ``p{n,m}`` → ``bgp_path_quant(t, p, n, m)`` (bounded repetition)
    - ``p?``     → ``n_min=0, n_max=1``
    - ``p*``     → ``n_min=0, n_max=None`` (reflexive-transitive)
    - ``p+``     → ``n_min=1, n_max=None`` (transitive)

    ``spec`` is one hop in :func:`bgp_path`'s grammar (string,
    ``"^pred"``, alternation list, or negated set).  Output: distinct
    ``(a, z)`` pairs connected by SOME path of length k with
    ``n_min ≤ k ≤ n_max`` (existence semantics — SPARQL paths are
    not counting).  The zero-length row (``n_min=0``) binds every
    graph term to itself, with "graph terms" = the subjects and
    objects of the WHOLE triple table (the SPARQL spec's
    all-terms-in-the-graph evaluation, restricted to node positions).

    ``n_max=None`` with ``n_min > 1`` is rejected: ``p{2,}`` is
    ``p/p+`` — compose :func:`bgp_path` with this operator instead of
    widening this loop's contract.

    Scale shape: the step-edge table is ONE predicate set's edges
    (scan-pushed filter).  Bounded form: m−1 pair-frontier hash joins
    keyed on the frontier node, each followed by a distinct — the
    frontier never exceeds the distinct reachable-pair count, and an
    empty frontier short-circuits.  Unbounded form: the same frontier
    joins run by :func:`serd_spark.operators.util.frontier_fixpoint`
    keyed on the pair — see it for the cycle-safe visited set and the
    ``max_iters`` backstop, which raises rather than returning a
    partial closure.  The both-ends-unbound closure is
    inherently output-bounded, not input-bounded: its natural 100 TB
    use is schema-sized predicates (``rdfs:subClassOf*``,
    ``skos:broader+``); for instance-scale reachability from a seed
    set, use ``bfs_levels`` (frontier-from-roots, not all-pairs).

    ``graph``/``carry_graph`` add the SPARQL GRAPH clause (see
    :func:`_graph_scope`): with ``carry_graph`` the closure runs PER
    NAMED GRAPH — step edges stay tagged with their graph, frontier
    joins and the visited anti-join key on ``(g, node)``/
    ``(g, a, z)``, so a path never hops across graphs — and the
    zero-length row binds each graph's OWN terms (a term appearing
    only in g1 gets no reflexive row in g2).  Output grows a leading
    ``g`` column."""
    if n_min < 0:
        raise ValueError(f"n_min must be >= 0, got {n_min}")
    if n_max is not None and n_max < n_min:
        raise ValueError(f"n_max={n_max} < n_min={n_min}")
    if n_max is None and n_min > 1:
        raise ValueError(
            "n_min > 1 with unbounded n_max: compose the fixed"
            " prefix with bgp_path (p{2,} == p/p+) instead")
    oa, oz = out_cols
    t = _graph_scope(triples, graph, carry_graph)
    gcols = ["g"] if carry_graph else []
    df = _quant_pairs(t, spec, n_min, n_max, max_iters, gcols)
    return df.select(*gcols, F.col("_a").alias(oa),
                     F.col("_z").alias(oz)).distinct()


def _quant_pairs(
    t: DataFrame, spec, n_min: int, n_max: int | None, max_iters: int,
    gcols: list, seed: str | None = None, reverse: bool = False,
) -> DataFrame:
    """The one ``p{n,m}``/``p*``/``p+`` walk behind
    :func:`bgp_path_quant` and the seeded path arms: ``[g,] _a, _z``
    pairs joined by SOME path of length k, ``n_min ≤ k ≤ n_max``
    (not yet distinct across lengths; ``_a`` is the subject end).
    The walk starts from the length-1 step pairs — all of them, or
    with ``seed`` only the seed's own step edges (the walk's start
    node is the seed, so the pair frontier is a node frontier in
    disguise), over the REVERSED step table when ``reverse`` (the
    seed is the object end).  Each round joins the pair frontier to
    the step table on its far end.  Bounded: ``n_max − 1`` such rounds, each distinct and
    checkpointed, an empty frontier short-circuiting.  Unbounded:
    :func:`serd_spark.operators.util.frontier_fixpoint` keyed on the
    pair — see it for the visited-set and ``max_iters`` contract."""
    parts: list[DataFrame] = []
    if n_min == 0:
        nodes = t.select(*gcols, F.col("s").alias("_a")).unionByName(
            t.select(*gcols, F.col("o").alias("_a"))).distinct()
        if seed is not None:
            nodes = nodes.where(F.col("_a") == F.lit(seed))
        parts.append(nodes.select(*gcols, "_a",
                                  F.col("_a").alias("_z")))
    if n_max != 0:
        a, z = ("_z", "_a") if reverse else ("_a", "_z")
        step = _path_hop(t, spec, a, z, gcols).distinct() \
            .localCheckpoint()
        frontier = step if seed is None else step.where(
            F.col("_a") == F.lit(seed)).localCheckpoint()
        nxt_step = step.select(*gcols, F.col("_a").alias("_z"),
                               F.col("_z").alias("_z2"))

        def expand(f):
            return (f.join(nxt_step, gcols + ["_z"])
                    .select(*gcols, "_a", F.col("_z2").alias("_z")))

        if n_max is None:
            parts.append(frontier_fixpoint(
                frontier, expand, gcols + ["_a", "_z"], max_iters,
                "path closure"))
        else:
            if n_min <= 1:
                parts.append(frontier)
            for k in range(2, n_max + 1):
                frontier = expand(frontier).distinct().localCheckpoint()
                if frontier.isEmpty():
                    break
                if k >= n_min:
                    parts.append(frontier)
    if not parts:
        # n_min >= 2 with no path reaching length n_min (the bounded
        # loop emptied early): a valid quantified-path query over
        # sparse data returns ZERO rows, not a crash
        parts.append(step.limit(0))
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    if reverse:
        df = df.select(*gcols, F.col("_z").alias("_a"),
                       F.col("_a").alias("_z"))
    return df


def bgp_minus(
    bindings: DataFrame, pattern: DataFrame,
    on: list | None = None, compat: str = "bound",
) -> DataFrame:
    """SPARQL ``MINUS``: remove solutions from ``bindings`` that are
    compatible with some solution of ``pattern`` on their SHARED
    variables — the set-subtraction negation verb next to
    :func:`bgp`'s ``not_exists`` groups (the correlated-existence
    form).  The two differ exactly where SPARQL says they do: when
    the operands share NO variables, MINUS removes NOTHING (disjoint
    domains are never compatible), which this operator honors by
    returning ``bindings`` unchanged — where a NOT EXISTS would drop
    everything whenever the pattern is non-empty.

    ``on`` names the shared variables explicitly; default = the
    column-name intersection.

    ``compat`` picks the NULL (= SPARQL "unbound") treatment on the
    shared columns:

    - ``"bound"`` (default): shared columns are assumed bound on both
      sides — a row with a NULL shared column is never matched, hence
      never removed (plain Spark equality-join semantics).  This is
      the fast path and exact for fully-bound BGP bindings; when the
      LEFT side came from OPTIONAL groups (:func:`bgp`
      ``optional`` — NULLable columns) and such a column is in
      the shared set, it DIVERGES from the SPARQL spec, which ignores
      unbound variables and can still subtract on the rest.  Either
      pass ``on=`` restricted to the always-bound columns, or use:
    - ``"partial"``: spec-exact — a binding is removed iff some
      pattern row agrees on every MUTUALLY BOUND shared column and at
      least one shared column is bound on both sides.  This is a
      non-equi anti join (Spark plans a broadcast nested loop), so
      the PATTERN side must be broadcast-small; the bindings side
      still streams.

    Scale shape (``"bound"``): ONE left-anti hash join on the shared
    variable set — the pattern side projects to just those columns
    first, so nothing else shuffles; keyed on ``s``-led columns it
    rides the same subject partitioning as every other BGP verb.
    ``"partial"`` trades that for spec fidelity on NULLs: dedup'd
    pattern projection broadcast, one pass over bindings."""
    if compat not in ("bound", "partial"):
        raise ValueError(f"compat must be 'bound' or 'partial',"
                         f" got {compat!r}")
    shared = (list(on) if on is not None
              else [c for c in bindings.columns
                    if c in set(pattern.columns)])
    missing = [c for c in shared
               if c not in bindings.columns or c not in pattern.columns]
    if missing:
        raise ValueError(f"on columns missing from an operand:"
                         f" {missing}")
    if not shared:
        return bindings
    if compat == "bound":
        return bindings.join(pattern.select(shared), shared,
                             "left_anti")
    pat = pattern.select(
        *[F.col(c).alias(f"_p_{c}") for c in shared]).distinct()
    agree = [(F.col(c).isNull() | F.col(f"_p_{c}").isNull()
              | (F.col(c) == F.col(f"_p_{c}"))) for c in shared]
    both = [(F.col(c).isNotNull() & F.col(f"_p_{c}").isNotNull())
            for c in shared]
    cond = agree[0]
    for a in agree[1:]:
        cond = cond & a
    some = both[0]
    for b in both[1:]:
        some = some | b
    return bindings.join(F.broadcast(pat), cond & some, "left_anti")


def bgp_values(
    triples: DataFrame, pred: str, values: list,
    value_cols: list, on: str = "o", out_col: str | None = None,
) -> DataFrame:
    """SPARQL ``VALUES`` inline binding: restrict one triple pattern
    to an explicit row table and carry its extra bound columns —
    e.g. ``VALUES (?status ?grade) { ("F" "closed") ("O" "open") }
    ?s :status ?status`` binds ``?grade`` alongside each match.  The
    parameterized-query workhorse (federated bindings, UI filter
    lists, join against a hand-curated mapping).

    ``values`` is a list of tuples; ``value_cols`` names them.  The
    FIRST value column matches the triple's ``on`` side (``"o"`` or
    ``"s"``); the rest ride along as bound outputs.  Output:
    (out_col, value_cols…) distinct — the triple's OTHER side
    (default name ``"s"`` when matching objects, ``"o"`` when
    matching subjects), the matched node, and the carried bindings.

    Scale shape: the inline table is literal-sized by construction
    (a query author typed it), so it BROADCASTS — the corpus-scale
    triple side is filtered to one predicate (scan-pushed) and
    probes the broadcast hash table map-side: zero shuffle beyond
    the final distinct, and over a subject-bucketed table none at
    all when ``on="s"``."""
    if on not in ("s", "o"):
        raise ValueError(f"on must be 's' or 'o', got {on!r}")
    if not values:
        raise ValueError("values must be non-empty")
    if not value_cols or len(value_cols) != len(values[0]):
        raise ValueError(
            f"value_cols has {len(value_cols or [])} names for "
            f"{len(values[0])}-wide values rows")
    spark = triples.sparkSession
    inline = spark.createDataFrame(values, value_cols)
    other = "o" if on == "s" else "s"
    out_col = out_col or other
    arm = triples.where(F.col("p") == pred).select(
        F.col(on).alias(value_cols[0]),
        F.col(other).alias(out_col))
    return arm.join(
        F.broadcast(inline), value_cols[0]).select(
        out_col, *value_cols).distinct()


def triple_pr(
    emitted: DataFrame, expected: DataFrame,
    keys: tuple = ("s", "p", "o"),
) -> DataFrame:
    """Triple-level precision/recall of an emitted KG against an
    expected one — the acceptance metric of the whole pipeline
    (P/R ≥ 0.95 vs the reference's triples) as a first-class
    distributed operator, so a 100 TB run can audit itself without
    collecting either side.  Set semantics: both inputs dedup on
    ``keys`` first (RDF graphs are triple SETS).

    Output: ONE row — n_emitted, n_expected, n_matched (bigint) and
    precision_ppm / recall_ppm: ``matched * 10^6 div n`` as BIGINT
    integer division, so the metric is integer-exact end to end (no
    float division for an exact-equality gate to trip on; callers
    wanting a float divide by 1e6).  Empty sides yield 0 ppm rather
    than a division error.

    Scale shape: one distinct per side (map-side-combined) and ONE
    full-outer join on ``keys`` feeding a single global aggregate of
    three partial-combined sums — the join is corpus-scale on both
    sides, so it shuffle-hash-joins on the triple key; nothing
    broadcasts, nothing collects, and the one-row result is the
    only thing that reaches the driver."""
    ks = list(keys)
    e = emitted.select(ks).distinct().withColumn("_e", F.lit(1))
    x = expected.select(ks).distinct().withColumn("_x", F.lit(1))
    j = e.join(x, ks, "full_outer")
    agg = j.agg(
        F.coalesce(F.sum("_e"), F.lit(0)).cast("long")
        .alias("n_emitted"),
        F.coalesce(F.sum("_x"), F.lit(0)).cast("long")
        .alias("n_expected"),
        F.coalesce(F.sum(F.col("_e") * F.col("_x")), F.lit(0))
        .cast("long").alias("n_matched"))
    ppm = "{m} * CAST(1000000 AS BIGINT) div {n}"
    return agg.select(
        "n_emitted", "n_expected", "n_matched",
        F.when(F.col("n_emitted") > 0,
               F.expr(ppm.format(m="n_matched", n="n_emitted")))
        .otherwise(F.lit(0)).cast("long").alias("precision_ppm"),
        F.when(F.col("n_expected") > 0,
               F.expr(ppm.format(m="n_matched", n="n_expected")))
        .otherwise(F.lit(0)).cast("long").alias("recall_ppm"))


def sameas_closure(
    triples: DataFrame,
    sameas_pred: str = "http://www.w3.org/2002/07/owl#sameAs",
    max_iter: int = 25,
) -> DataFrame:
    """owl:sameAs entity resolution: compute the transitive-
    symmetric closure of the graph's sameAs statements and rewrite
    every remaining triple onto each node's CANONICAL identifier —
    the KG-construction step that merges duplicate entity IRIs
    (the same customer minted under two id schemes, a vendor alias,
    a redirect chain) into one node before downstream queries.
    Canonical = minimum node id per connected component of the
    undirected sameAs graph, the same deterministic min-label rule
    as :func:`serd_spark.operators.dedup.dup_clusters`, which this
    reuses.  The sameAs statements themselves are consumed (they
    are identity bookkeeping, not data), and the rewrite dedups:
    two aliases asserting the same fact collapse to ONE canonical
    triple — RDF graphs are triple sets.

    Output: (s, p, o) distinct, every s and o canonicalized.

    Scale shape: closure runs on the sameAs SUBGRAPH only (alias
    edges are a tiny fraction of any real corpus — identity chains,
    not data), converging in O(chain diameter) label-propagation
    rounds with localCheckpoint lineage truncation per round.  The
    rewrite is two hash joins of the corpus against the alias→canon
    map, LEFT so non-aliased nodes pass through without a lookup
    miss penalty; the map is component-sized, so AQE will broadcast
    it when small and shuffle-join when an adversarial corpus makes
    it big.  Nothing collects."""
    from serd_spark.operators.dedup import dup_clusters

    sames = triples.where(F.col("p") == sameas_pred)
    rest = triples.where(F.col("p") != sameas_pred)
    canon = dup_clusters(
        sames.select(F.col("s").alias("doc_a"),
                     F.col("o").alias("doc_b")),
        max_iter=max_iter,
    ).select(F.col("doc_id").alias("_node"),
             F.col("cluster_id").alias("_canon"))
    out = (
        rest
        .join(canon.select(F.col("_node").alias("s"),
                           F.col("_canon").alias("_cs")), "s", "left")
        .join(canon.select(F.col("_node").alias("o"),
                           F.col("_canon").alias("_co")), "o", "left")
        .select(
            F.coalesce(F.col("_cs"), F.col("s")).alias("s"),
            F.col("p"),
            F.coalesce(F.col("_co"), F.col("o")).alias("o"))
    )
    return out.distinct()


def graph_delta(
    old: DataFrame, new: DataFrame, keys: tuple = ("s", "p", "o"),
) -> DataFrame:
    """Incremental-maintenance delta between two KG snapshots: the
    triples to retract and the triples to assert so that ``old``
    becomes ``new`` — what a nightly pipeline publishes instead of
    the full graph, and what a streaming consumer applies.  Set
    semantics on ``keys`` (duplicates collapse; RDF graphs are
    triple sets).  Output: (*keys, change) with change ∈
    {'add', 'del'} — 'add' rows are in ``new`` only, 'del' rows in
    ``old`` only; unchanged triples are absent, so the delta is
    |additions| + |retractions| rows, not corpus-sized.

    Scale shape: two LEFT ANTI hash joins on the triple key (each
    side dedups map-side first).  Anti joins materialize nothing
    from the probe side's payload and AQE converts either to a
    broadcast when one snapshot's novel fraction is small — the
    common nightly case.  Nothing collects."""
    ks = list(keys)
    added = new.select(ks).distinct().join(
        old.select(ks).distinct(), ks, "left_anti").withColumn(
        "change", F.lit("add"))
    removed = old.select(ks).distinct().join(
        new.select(ks).distinct(), ks, "left_anti").withColumn(
        "change", F.lit("del"))
    return added.unionByName(removed)


def apply_delta(
    old: DataFrame, delta: DataFrame, keys: tuple = ("s", "p", "o"),
) -> DataFrame:
    """Apply an add/del delta (the :func:`graph_delta` output shape)
    to a snapshot: retract the 'del' rows, assert the 'add' rows —
    the consumer half of incremental KG maintenance, satisfying
    ``apply_delta(old, graph_delta(old, new)) == new`` on triple
    sets (test-enforced).  Output: distinct (*keys,).

    Scale shape: one LEFT ANTI join against the (delta-sized, not
    corpus-sized) retract set — AQE broadcasts it in the common
    nightly case — then a union with the adds and one map-side-
    combined distinct.  The snapshot is scanned once and never
    self-joins."""
    ks = list(keys)
    dels = delta.where(F.col("change") == "del").select(ks)
    adds = delta.where(F.col("change") == "add").select(ks)
    return (old.select(ks).join(dels, ks, "left_anti")
            .unionByName(adds).distinct())


def bgp_describe(
    triples: DataFrame, seeds, node_col: str = "node",
    include_incoming: bool = True,
) -> DataFrame:
    """SPARQL ``DESCRIBE``: every triple mentioning any seed node —
    the outgoing arm (seed as subject) plus, by default, the
    incoming arm (seed as object) — the entity-card / debugging
    query every triple-store user runs.  ``seeds`` is a one-column
    DataFrame (``node_col``) or a Python list of node ids (a
    query-author-typed list, literal-sized).  Output: distinct
    (s, p, o).

    Scale shape: two LEFT SEMI joins of the corpus against the seed
    set — semi joins materialize nothing from the seed side and
    broadcast it when small (always, for the list form; AQE decides
    for DataFrame seeds).  Over a subject-bucketed triple table the
    outgoing arm plans exchange-free; the incoming arm is the case
    for an object-keyed secondary layout, which this reads as-is."""
    spark = triples.sparkSession
    if not isinstance(seeds, DataFrame):
        seeds = spark.createDataFrame(
            [(s,) for s in seeds], f"{node_col} string")
    seeds = seeds.select(node_col).distinct()
    out = triples.join(
        seeds.withColumnRenamed(node_col, "s"), "s", "left_semi")
    if include_incoming:
        out = out.unionByName(triples.join(
            seeds.withColumnRenamed(node_col, "o"), "o", "left_semi")
            .select("s", "p", "o"))
    return out.select("s", "p", "o").distinct()


def bgp_construct(
    bindings: DataFrame, template: list,
) -> DataFrame:
    """SPARQL ``CONSTRUCT``: rewrite a bindings table (the output of
    :func:`bgp` / :func:`bgp_path` / any select) into new
    triples via a template — the graph-to-graph transformation verb
    (invert an edge, reify a join result, re-predicate a legacy
    vocabulary).  ``template`` is a list of (s, p, o) specs; each
    spec is a binding COLUMN name, or a constant written
    ``("lit", value)`` — a plain string must name a column, so
    constants are explicit and typos fail fast instead of silently
    emitting a constant.  Output: the template applied to every
    binding row, all template rows unioned, distinct (CONSTRUCT
    builds a graph — a triple SET).

    Scale shape: pure per-row projections (zero joins, zero
    Python), one union per template row off ONE pass of the
    bindings, and the final set-dedup is the only exchange."""
    if not template:
        raise ValueError("template must be non-empty")

    def _term(spec):
        if isinstance(spec, tuple):
            if len(spec) != 2 or spec[0] != "lit":
                raise ValueError(
                    f"constant term must be ('lit', value): {spec!r}")
            return F.lit(spec[1])
        if spec not in bindings.columns:
            raise ValueError(
                f"template names column {spec!r} not in bindings "
                f"{bindings.columns}; constants are ('lit', value)")
        return F.col(spec)

    parts = [
        bindings.select(
            _term(s).alias("s"), _term(p).alias("p"),
            _term(o).alias("o"))
        for (s, p, o) in template
    ]
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df.distinct()


def bgp_ask(triples: DataFrame, pred: str,
            s: str | None = None, o: str | None = None) -> DataFrame:
    """SPARQL ``ASK``: does any statement match the pattern?  One
    row, one bigint column ``ask`` (1/0 — integer so exact-equality
    gates compare it robustly).  Constants bind whichever of
    subject/object are given; the predicate is required.

    Scale shape: the constant filters push to the scan and the
    existence check is a lazy count over a LIMIT 1 — Spark stops
    scanning at the first matching row, no full aggregation, and
    building the plan runs no job."""
    df = triples.where(F.col("p") == pred)
    if s is not None:
        df = df.where(F.col("s") == s)
    if o is not None:
        df = df.where(F.col("o") == o)
    return df.limit(1).agg(F.count(F.lit(1)).alias("ask"))


NS_RDFS = "http://www.w3.org/2000/01/rdf-schema#"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def rdfs_entailment(
    triples: DataFrame,
    rdf_type: str = RDF_TYPE,
    subclass: str = NS_RDFS + "subClassOf",
    subprop: str = NS_RDFS + "subPropertyOf",
    domain: str = NS_RDFS + "domain",
    range_: str = NS_RDFS + "range",
    max_tbox: int = 1_000_000,
) -> DataFrame:
    """Forward-chaining RDFS materialization over the ρDF fragment —
    the schema-inference step of KG construction that makes the
    ontology's implications queryable as plain triples: rdfs7
    (``p subPropertyOf q`` lifts every ``(s,p,o)`` to ``(s,q,o)``),
    rdfs2/3 (``p domain/range C`` types the subject/object of every
    ``p`` statement), and rdfs9 (``C subClassOf D`` lifts every
    typed node to its supertypes).  Sub-class and sub-property
    chains close TRANSITIVELY; domain/range fire on declared AND
    inferred properties, and subClassOf lifts declared AND inferred
    types — the standard fixpoint for this fragment, reached in one
    ordered pass (rdfs7 → rdfs2/3 → rdfs9) because the closures are
    precomputed, no iteration over the corpus.  The schema-level
    closure triples themselves are emitted too (rdfs5/rdfs11 —
    ``p ⊑ r`` from ``p ⊑ q ⊑ r``, likewise subClassOf), so the
    output is the full fixpoint, not just its ABox part.  Output:
    the input plus every entailed triple, distinct.

    Scale shape: the TBox (the four schema predicates) is
    ONTOLOGY-sized — a human wrote it — so it collects once to the
    driver (guarded by ``max_tbox``, same justification as the
    entity-dictionary broadcast at kg.py:184), its reflexive-
    transitive closures compute in pure Python, and the closure
    maps broadcast.  The corpus side is then three broadcast-join
    projections plus a union and ONE distinct — the corpus never
    shuffles except for that final set-dedup, and no rule ever
    joins corpus against corpus."""
    spark = triples.sparkSession
    tbox_preds = [subclass, subprop, domain, range_]
    tbox_rows = (triples.where(F.col("p").isin(tbox_preds))
                 .select("s", "p", "o").distinct().limit(max_tbox + 1)
                 .collect())
    if len(tbox_rows) > max_tbox:
        raise ValueError(
            f"TBox exceeds max_tbox={max_tbox}: the schema predicates "
            "are expected to be ontology-sized; raise the cap only if "
            "the ontology really is that big")

    def _closure(pred: str) -> list:
        # reflexive-transitive closure of the (s, o) pairs under
        # `pred`: BFS per source over the ontology-sized edge map.
        adj: dict = {}
        for r in tbox_rows:
            if r.p == pred:
                adj.setdefault(r.s, set()).add(r.o)
        out = []
        for src in adj:
            seen, stack = {src}, [src]
            while stack:
                for nxt in adj.get(stack.pop(), ()):
                    if nxt not in seen:
                        seen.add(nxt)
                        stack.append(nxt)
            out.extend((src, dst) for dst in sorted(seen - {src}))
        return out

    def _map_df(pairs: list, a: str, b: str):
        if not pairs:
            return None
        return F.broadcast(
            spark.createDataFrame(pairs, f"{a} string, {b} string"))

    sp_pairs, sc_pairs = _closure(subprop), _closure(subclass)
    prop_sup = _map_df(sp_pairs, "p", "_sup")
    cls_sup = _map_df(sc_pairs, "_cls", "_sup")
    dom = _map_df(
        sorted({(r.s, r.o) for r in tbox_rows if r.p == domain}),
        "p", "_cls")
    rng = _map_df(
        sorted({(r.s, r.o) for r in tbox_rows if r.p == range_}),
        "p", "_cls")

    out = triples.select("s", "p", "o")
    # rdfs5/rdfs11: the transitive schema closures are themselves
    # entailed triples (driver-built literal rows, ontology-sized).
    closure_rows = ([(a, subprop, b) for a, b in sp_pairs]
                    + [(a, subclass, b) for a, b in sc_pairs])
    if closure_rows:
        out = out.unionByName(spark.createDataFrame(
            closure_rows, "s string, p string, o string"))
    # rdfs7: lift statements through the subPropertyOf closure.
    if prop_sup is not None:
        lifted = (triples.join(prop_sup, "p")
                  .select("s", F.col("_sup").alias("p"), "o"))
        out = out.unionByName(lifted)
    # rdfs2/3 fire on declared and rdfs7-inferred statements alike.
    stmts = out
    if dom is not None:
        out = out.unionByName(
            stmts.join(dom, "p").select(
                "s", F.lit(rdf_type).alias("p"),
                F.col("_cls").alias("o")))
    if rng is not None:
        out = out.unionByName(
            stmts.join(rng, "p").select(
                F.col("o").alias("s"), F.lit(rdf_type).alias("p"),
                F.col("_cls").alias("o")))
    # rdfs9: lift every (declared or inferred) type to supertypes.
    if cls_sup is not None:
        typed = out.where(F.col("p") == rdf_type)
        out = out.unionByName(
            typed.join(cls_sup,
                       typed["o"] == cls_sup["_cls"])
            .select("s", F.lit(rdf_type).alias("p"),
                    F.col("_sup").alias("o")))
    return out.distinct()


def kg_entity_link_pipeline(
    turns: DataFrame, entities: DataFrame, text_col: str = "text",
    max_gram: int = 2, key_cols: tuple = ("conv_id", "turn_idx"),
) -> DataFrame:
    """detect → link → emit, one corpus scan end to end."""
    m = detect_mentions(turns, entities, text_col, max_gram,
                        key_cols=key_cols)
    return mentions_to_triples(link_entities(m, key_cols), key_cols)
