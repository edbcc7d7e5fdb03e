"""Deduplication operators over the ``documents`` table: exact,
MinHash+LSH, SimHash, n-gram Jaccard.

Scale design: every variant is bucket-first — candidate pairs only
ever form *inside* a bounded bucket (hash group, LSH band bucket),
never via an all-pairs cross join.  At 100 TB the band buckets are the
unit of shuffle; hot buckets are bounded by ``max_bucket`` (oversized
buckets are dropped, with the drop observable: pass an ``Observation``
to ``minhash_lsh_pairs`` for counters, or query the
``lsh_dropped_buckets`` ledger — the standard LSH guardrail, never a
silent cap) and AQE skew-join handles residual imbalance.

Definitions are engine-portable (md5-based hashing, explicit shingle
construction) so each has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .util import fixpoint, spread


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup via content-hash groupBy: one representative
    (min doc_id) per distinct text + duplicate count."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min("doc_id").cast("long").alias("rep_doc_id"),
            F.count("*").cast("long").alias("n_dups"),
        )
    )


def _shingles_from_tokens(toks, k: int):
    """slice+zip_with construction: each shifted slice is evaluated
    once per ROW; the zip lambda only touches element variables.
    (The naive transform+element_at form re-evaluates the token
    expression per element after Catalyst project-collapse — measured
    ~30× slower.)"""
    n_sh = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    slices = [F.slice(toks, j + 1, n_sh) for j in range(k)]
    out = slices[-1]
    for s in reversed(slices[:-1]):
        out = F.zip_with(s, out, lambda x, y: F.concat_ws(" ", x, y))
    return out


def shingle_arrays(docs: DataFrame, text_col: str = "text",
                   k: int = 3, out: str = "sh") -> DataFrame:
    """(doc_id, <out>: array<string>) with tokens projected as a real
    column first so the split runs once per row, not per element.

    The input is ``spread`` first (util.spread): shingling is the
    CPU-dense stage of every consumer (explode + per-shingle md5),
    and a narrow scan would otherwise run it on one core."""
    docs = spread(docs)
    return (
        docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.split(F.trim(F.col(text_col)), r"\s+").alias("_toks"),
        )
        .select("doc_id",
                _shingles_from_tokens(F.col("_toks"), k).alias(out))
    )


def minhash_bands(
    docs: DataFrame, text_col: str = "text", n_bands: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """Per-document band minhashes: band b's signature =
    min(md5(shingle || '#' || b)).  One row per (doc, band).

    The shingle array is ``array_distinct``ed BEFORE the explode:
    min() is idempotent over duplicates, so the band minima are
    value-identical, and the per-shingle md5 work (the operator's
    dominant cost — n_bands hashes per shingle) drops by the
    duplication factor (template-heavy corpora: measured 7.3 s →
    3.5 s for the whole LSH pair join at sf1.0)."""
    sh = shingle_arrays(docs, text_col, shingle_k).select(
        "doc_id", F.explode(F.array_distinct("sh")).alias("shingle"))
    # All band minima in ONE aggregation: the shuffle carries only
    # n_docs rows of partial minima (map-side combine), not the
    # n_bands× exploded shingle stream; bands unpivot after, no
    # second shuffle.
    aggs = [
        F.min(F.md5(F.concat_ws("#", "shingle", F.lit(str(b)))))
        .alias(f"_mh{b}")
        for b in range(n_bands)
    ]
    per_doc = sh.groupBy("doc_id").agg(*aggs)
    bands_arr = F.array(*[
        F.struct(F.lit(b).cast("long").alias("band"),
                 F.col(f"_mh{b}").alias("minhash"))
        for b in range(n_bands)
    ])
    return (
        per_doc.select("doc_id", F.explode(bands_arr).alias("x"))
        .select("doc_id", "x.band", "x.minhash")
    )


def minhash_lsh_pairs(
    docs: DataFrame, text_col: str = "text", n_bands: int = 8,
    shingle_k: int = 3, max_bucket: int = 64,
    observation=None,
) -> DataFrame:
    """Candidate near-duplicate pairs: documents sharing ≥1 band
    bucket.  Bucket-bounded self-join (the LSH scale path).

    The ``max_bucket`` guardrail is observable, not silent: pass a
    ``pyspark.sql.Observation`` as ``observation`` and, after any
    action on the result, ``observation.get`` reports
    ``n_rows_dropped`` (doc×band rows in oversized buckets) and
    ``n_buckets_dropped``.  For the full ledger of what was capped,
    use :func:`lsh_dropped_buckets`.
    """
    mh = minhash_bands(docs, text_col, n_bands, shingle_k)
    # Guardrail: drop degenerate hot buckets (> max_bucket docs).
    sized = mh.withColumn(
        "bucket_n",
        F.count("*").over(Window.partitionBy("band", "minhash")),
    )
    if observation is not None:
        over = F.col("bucket_n") > max_bucket
        # (distinct aggregates are disallowed in observed metrics, so
        # count buckets as sum of 1/bucket_n over dropped rows)
        sized = sized.observe(
            observation,
            F.sum(F.when(over, 1).otherwise(0)).alias("n_rows_dropped"),
            F.round(F.sum(F.when(over, 1.0 / F.col("bucket_n"))
                          .otherwise(0.0))).cast("long")
            .alias("n_buckets_dropped"),
        )
    sized = sized.where(F.col("bucket_n") <= max_bucket)
    a = sized.select("band", "minhash", F.col("doc_id").alias("doc_a"))
    b = sized.select("band", "minhash", F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, ["band", "minhash"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_lsh_pairs_incremental(
    corpus: DataFrame, new_docs: DataFrame, text_col: str = "text",
    n_bands: int = 8, shingle_k: int = 3, max_bucket: int = 64,
) -> DataFrame:
    """Incremental near-dup candidates: pairs between a SMALL new
    batch (today's crawl) and the big existing corpus — the daily
    dedup shape, where a full corpus self-join would recompute
    yesterday's work.

    The new batch's band minhashes broadcast; the corpus is scanned
    once and its bands join map-side — no corpus shuffle, no corpus
    self-pairs.  The ``max_bucket`` guard applies to corpus-side
    bucket sizes (the degenerate-bucket risk lives there).  Output:
    (doc_corpus, doc_new) distinct candidate pairs — verify with
    :func:`ngram_jaccard` as usual (it takes any pair table)."""
    mh_c = minhash_bands(corpus, text_col, n_bands, shingle_k)
    sized = mh_c.withColumn(
        "bucket_n",
        F.count("*").over(Window.partitionBy("band", "minhash")),
    ).where(F.col("bucket_n") <= max_bucket)
    mh_n = minhash_bands(new_docs, text_col, n_bands, shingle_k) \
        .select("band", "minhash", F.col("doc_id").alias("doc_new"))
    return (
        sized.select("band", "minhash",
                     F.col("doc_id").alias("doc_corpus"))
        .join(F.broadcast(mh_n), ["band", "minhash"])
        .where(F.col("doc_corpus") != F.col("doc_new"))
        .select("doc_corpus", "doc_new")
        .distinct()
    )


def lsh_dropped_buckets(
    docs: DataFrame, text_col: str = "text", n_bands: int = 8,
    shingle_k: int = 3, max_bucket: int = 64,
) -> DataFrame:
    """Side-output ledger for the ``max_bucket`` guardrail: one row
    per dropped (band, minhash) bucket with its size — the buckets
    :func:`minhash_lsh_pairs` excluded from pair generation."""
    mh = minhash_bands(docs, text_col, n_bands, shingle_k)
    return (
        mh.groupBy("band", "minhash")
        .agg(F.count("*").cast("long").alias("bucket_n"))
        .where(F.col("bucket_n") > max_bucket)
    )


def ngram_jaccard(
    docs: DataFrame, pairs: DataFrame, text_col: str = "text",
    shingle_k: int = 3, broadcast_pairs: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs (verify
    stage after LSH): |A∩B| / |A∪B| over distinct shingles.

    Set-as-array formulation: one row per doc carrying its distinct
    shingle array, pairs joined twice by doc id, intersection via
    JVM-side ``array_intersect`` — no exploded shingle shuffle.

    ``broadcast_pairs=True`` (default) hints the pair table broadcast
    — right after LSH the candidate set is tiny.  Set it False when
    the pair table may exceed the broadcast threshold (rule of thumb:
    > ~10M pairs / the session's autoBroadcastJoinThreshold): both
    joins then shuffle on doc id, and AQE will still broadcast at
    runtime if the actual size turns out small."""
    sets = shingle_arrays(docs, text_col, shingle_k).select(
        "doc_id", F.array_distinct("sh").alias("sh"))
    p = F.broadcast(pairs) if broadcast_pairs else pairs
    joined = (
        sets.join(p, sets.doc_id == p.doc_a)
        .select("doc_a", "doc_b", F.col("sh").alias("sh_a"))
        .join(sets.select(F.col("doc_id").alias("doc_b"),
                          F.col("sh").alias("sh_b")), "doc_b")
    )
    n_inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    return joined.select(
        "doc_a", "doc_b", n_inter.alias("n_inter"),
        F.round(n_inter
                / (F.size("sh_a") + F.size("sh_b") - n_inter),
                6).alias("jaccard"),
    ).where(F.col("n_inter") > 0)  # match the intersect-join form


def tfidf_cosine_pairs(
    docs: DataFrame, pairs: DataFrame, text_col: str = "text",
    broadcast_pairs: bool = True,
) -> DataFrame:
    """tf-idf-weighted cosine similarity for candidate pairs — the
    WEIGHTED verify stage next to :func:`ngram_jaccard`'s set
    overlap: rare shared terms dominate, boilerplate terms (high df,
    near-zero idf) stop inflating similarity.  w(d,t) = tf·ln(N/df).

    Output: (doc_a, doc_b, cosine) for pairs sharing ≥1 term, 6-dp.

    Scale shape: term weights and per-doc norms are map-side-combined
    aggregations off ONE tokenization; N rides a one-row broadcast;
    the dot product joins each side's term vector ONLY for candidate
    pairs (pair table broadcast by default, same dial as
    ngram_jaccard), grouped map-side by pair.  Float note: the dot
    and norm sums are single non-iterative reductions — the same
    round(…,6) grain as every other one-shot float aggregate in the
    repo (lm_score, ngram stats), not the iterative-rank case."""
    toks = _exploded_tokens(docs, text_col)
    tf = toks.groupBy("doc_id", "tok").agg(
        F.count("*").cast("double").alias("_tf"))
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("_df"))
    n_docs = docs.select(
        F.countDistinct("doc_id").cast("double").alias("_n"))
    w = (
        tf.join(dfreq, "tok").crossJoin(F.broadcast(n_docs))
        .select("doc_id", "tok",
                (F.col("_tf") * F.log(F.col("_n") / F.col("_df")))
                .alias("_w"))
    )
    # Dot product via per-doc tok→weight MAPS + JVM map_zip_with,
    # not a pair×token exploded join: the join form fans every pair
    # out to its token count (pairs × ~100 rows through two joins —
    # measured the whole operator at 26 s vs 10.6 s at sf1.0; guide
    # §2.3 / §3.3).  map_filter keeps only keys present on BOTH
    # sides, so the ≥1-shared-term row set and the 6-dp cosine are
    # value-identical (cross-checked row-exact vs the join form).
    vecs = w.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("tok", "_w")))
        .alias("_m"),
        F.sqrt(F.sum(F.col("_w") * F.col("_w"))).alias("_nrm"))
    p = F.broadcast(pairs) if broadcast_pairs else pairs
    shared = F.map_filter(
        F.map_zip_with("_ma", "_mb", lambda k, x, y: x * y),
        lambda k, v: v.isNotNull())
    cos = F.round(F.col("_dot") / (F.col("_na") * F.col("_nb")), 6)
    return (
        p.join(vecs.select(F.col("doc_id").alias("doc_a"),
                           F.col("_m").alias("_ma"),
                           F.col("_nrm").alias("_na")), "doc_a")
        .join(vecs.select(F.col("doc_id").alias("doc_b"),
                          F.col("_m").alias("_mb"),
                          F.col("_nrm").alias("_nb")), "doc_b")
        .withColumn("_sh", shared)
        .where((F.size("_sh") > 0)
               & (F.col("_na") > 0) & (F.col("_nb") > 0))
        .withColumn("_dot", F.aggregate(F.map_values("_sh"),
                                        F.lit(0.0),
                                        lambda acc, v: acc + v))
        .select("doc_a", "doc_b", cos.alias("cosine"))
    )


def contamination_flags(
    train: DataFrame, eval_docs: DataFrame,
    text_col: str = "text", shingle_k: int = 3,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing ≥1
    k-word shingle with ANY document in the (small) eval/benchmark
    set — the overlap filter every serious training pipeline runs
    before training (n-gram contamination, à la GPT-3 appendix C /
    FineWeb decontamination).

    Shape for 100 TB: the eval set is tiny by construction (benchmarks
    are thousands of docs), so its DISTINCT shingles broadcast; the
    corpus is scanned once, exploded to shingles, and inner-broadcast-
    joined — no shuffle of the corpus, map-side only, then one
    aggregation keyed by doc_id.  Output: (doc_id, n_hits) for
    CONTAMINATED train docs only (n_hits = distinct overlapping
    shingles); anti-join the result to drop them."""
    ev = (shingle_arrays(eval_docs, text_col, shingle_k)
          .select(F.explode("sh").alias("shingle")).distinct())
    tr = shingle_arrays(train, text_col, shingle_k).select(
        "doc_id", F.explode(F.array_distinct("sh")).alias("shingle"))
    return (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )


def dup_ngram_fraction(
    docs: DataFrame, text_col: str = "text", shingle_k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicate n-gram fraction: for each document,
    the fraction of its DISTINCT k-word shingles that also occur in
    ≥ ``min_docs`` documents overall — the "dedupable fraction"
    profile that decides whether a corpus needs sub-document (span)
    dedup at all, and the cross-doc complement of the within-doc
    ``repetition_features``.  (C4's line dedup and the suffix-array
    span dedup both act on exactly the shingles this flags.)

    Scale shape: one corpus scan explodes distinct shingles; one
    aggregation keyed by shingle counts distinct docs (map-side
    combine); one shuffle join back on the shingle key (both sides
    hash-partition by shingle — no broadcast assumption, the
    duplicate-shingle table is corpus-scale); final per-doc agg.
    Output: (doc_id, n_shingles, n_dup_shingles, dup_fraction)."""
    sh = (
        shingle_arrays(docs, text_col, shingle_k)
        .select("doc_id",
                F.explode(F.array_distinct("sh")).alias("shingle"))
    )
    counts = sh.groupBy("shingle").agg(
        F.count("*").alias("_nd"))
    dup = F.when(F.col("_nd") >= min_docs, F.lit(1)).otherwise(F.lit(0))
    return (
        sh.join(counts, "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_shingles"),
             F.sum(dup).cast("long").alias("n_dup_shingles"))
        .withColumn(
            "dup_fraction",
            F.round(F.col("n_dup_shingles")
                    / F.greatest(F.col("n_shingles"), F.lit(1)), 6))
    )


def cdc_chunks(
    docs: DataFrame, text_col: str = "text", divisor: int = 8,
) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS boundary scheme) at
    token granularity: a token CLOSES a chunk iff
    ``int(md5(token)[:8], 16) % divisor == 0`` — boundaries are a pure
    function of content, so an insertion early in a document shifts
    chunk alignment only locally (fixed-size chunking would re-align
    every downstream chunk and break cross-doc span matching).
    Expected chunk length ≈ ``divisor`` tokens.

    Output: (doc_id, chunk_idx, chunk_text, chunk_hash).  One corpus
    scan → posexplode → per-DOC window (partitioned by doc_id —
    embarrassingly parallel, no global window) computing the running
    boundary count → one aggregation rebuilding chunk text in token
    order.  Engine-portable definition (md5 + running sum) with an
    exact SQL mirror."""
    toks = spread(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+"))
        .alias("pos", "tok"),
    ).where(F.col("tok") != "")
    closes = F.when(
        F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10)
        .cast("long") % divisor == 0, 1).otherwise(0)
    # chunk_idx = number of chunk-closing tokens STRICTLY before this
    # one (the closer belongs to the chunk it closes)
    w = Window.partitionBy("doc_id").orderBy("pos") \
        .rowsBetween(Window.unboundedPreceding, -1)
    chunked = toks.withColumn(
        "chunk_idx",
        F.coalesce(F.sum(closes).over(w), F.lit(0)).cast("long"))
    return (
        chunked.groupBy("doc_id", "chunk_idx")
        .agg(F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"])).alias("chunk_text"))
        .withColumn("chunk_hash", F.md5("chunk_text"))
    )


def cdc_span_dup_stats(
    docs: DataFrame, text_col: str = "text", divisor: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Sub-document span dedup profile over content-defined chunks:
    per document, how many of its chunks also occur (verbatim) in
    ≥ ``min_docs`` documents — the span-level dedup signal
    (suffix-array-style exact substring dedup approximated at chunk
    granularity, which is how large pipelines actually run it).
    Same join shape as :func:`dup_ngram_fraction`: chunk table keyed
    by hash, one agg, one shuffle join back, per-doc agg."""
    ch = cdc_chunks(docs, text_col, divisor) \
        .select("doc_id", "chunk_hash").distinct()
    counts = ch.groupBy("chunk_hash").agg(F.count("*").alias("_nd"))
    dup = F.when(F.col("_nd") >= min_docs, F.lit(1)).otherwise(F.lit(0))
    return (
        ch.join(counts, "chunk_hash")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_chunks"),
             F.sum(dup).cast("long").alias("n_dup_chunks"))
    )


def dup_clusters(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Near-duplicate *clusters* from candidate pairs: connected
    components of the undirected pair graph, labeled by the minimum
    doc_id in each component — the "keep one representative per
    duplicate group" step after LSH pair generation.

    Iterative min-label propagation: each round every node takes the
    min of its own label and its neighbors' labels; converges in
    O(component diameter) rounds with a driver-side changed-label
    early exit.  The LSH candidate graph holds long chains, not only
    near-cliques: ``dedup_clusters`` measured 21 rounds at sf0.001
    and 19 at sf0.01 (the last round is the one that finds no label
    to change).  Each round is one map-side-combined min aggregation
    over the edges plus two broadcast joins of node-sized tables,
    localCheckpointed.  ``max_iter`` is a diameter backstop with the
    closures' contract (:func:`serd_spark.operators.util.fixpoint`):
    if it runs out, one more probe round decides — labels that still
    move raise ``RuntimeError`` instead of returning wrong components.

    Output: (doc_id, cluster_id) for every doc appearing in ≥1 pair.
    """
    edges = pairs.select(F.col("doc_a").alias("u"),
                         F.col("doc_b").alias("v"))
    # localCheckpoint: iterative algorithms must TRUNCATE lineage each
    # round, not just cache — otherwise every round's plan contains
    # all previous rounds' plans and Catalyst analysis time explodes
    # exponentially.  (reliable-checkpoint to a cluster FS is the HA
    # variant; local is right for a bounded label-propagation loop.)
    edges = edges.union(
        pairs.select(F.col("doc_b").alias("u"),
                     F.col("doc_a").alias("v"))).localCheckpoint()
    labels = edges.select("u").distinct() \
        .withColumn("lbl", F.col("u")).localCheckpoint()

    def _round(labels):
        # the label table is node-sized but carries unknown stats
        # after localCheckpoint, so without the explicit hint the
        # planner shuffle-joins — re-shuffling the EDGE table every
        # round (guide §3.1: hint when estimates are wrong)
        nbr = (
            edges.join(
                F.broadcast(labels.select(F.col("u").alias("v"),
                                          F.col("lbl").alias("vlbl"))),
                "v")
            .groupBy("u")
            .agg(F.min("vlbl").alias("nlbl"))
        )
        return labels.join(F.broadcast(nbr), "u", "left").select(
            "u", F.col("lbl").alias("_prev"), F.least(
                F.col("lbl"),
                F.coalesce(F.col("nlbl"), F.col("lbl"))).alias("lbl"))

    changed = F.col("lbl") != F.col("_prev")
    # Convergence witness: does any label CHANGE this round?  (A
    # sum-of-labels witness is cheaper on paper but silently breaks
    # for non-numeric ids — F.sum over strings is NULL, so NULL==NULL
    # "converges" after one round — and risks >2^53 precision ties for
    # doubles.  The changed test is type-agnostic: min-label
    # propagation only needs an ordering, which least()/min() give any
    # orderable type.)  Each round is one checkpointed materialization
    # plus a cheap emptiness check over the already-checkpointed result.
    def step(labels):
        nxt = _round(labels).localCheckpoint()
        if nxt.where(changed).isEmpty():
            return None
        return nxt.drop("_prev")

    labels = fixpoint(labels, step, max_iter, "dup_clusters")
    return labels.select(F.col("u").alias("doc_id"),
                         F.col("lbl").alias("cluster_id"))


def simhash(docs: DataFrame, text_col: str = "text",
            n_bits: int = 64, spread_input: bool = True) -> DataFrame:
    """Per-document SimHash over whitespace tokens: bit i of the
    signature is the majority vote of token-hash bit i.  64 bits by
    default — 16 was collision-prone at corpus scale.  Token hash =
    first 16 hex chars of md5, read as two 32-bit halves so both
    engines stay inside signed-64 arithmetic; bit 63 (the sign bit)
    is set by adding -2^63, portable to the SQL oracle."""
    if not 1 <= n_bits <= 64:
        raise ValueError(f"n_bits must be in [1, 64], got {n_bits}")
    # spread_input=False: a consumer that only counts signatures (the
    # vote aggregates prune away) skips the repartition exchange
    if spread_input:
        docs = spread(docs)
    toks = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
        .alias("tok"),
    )
    h = toks.withColumn(
        "h_hi", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10)
        .cast("long")
    ).withColumn(
        "h_lo", F.conv(F.substring(F.md5("tok"), 9, 8), 16, 10)
        .cast("long")
    )

    def bit(i: int):
        if i < 32:
            return F.shiftright(F.col("h_lo"), i).bitwiseAND(1)
        return F.shiftright(F.col("h_hi"), i - 32).bitwiseAND(1)

    votes = h.groupBy("doc_id").agg(
        *[
            F.sum(F.when(bit(i) == 1, 1).otherwise(-1)).alias(f"v{i}")
            for i in range(n_bits)
        ]
    )
    sig = sum(
        (F.when(F.col(f"v{i}") > 0,
                F.lit(-(1 << 63) if i == 63 else (1 << i)))
         .otherwise(F.lit(0))
         for i in range(n_bits)),
        F.lit(0),
    )
    return votes.select("doc_id", sig.cast("long").alias("simhash"))


def _exploded_tokens(docs: DataFrame, text_col: str) -> DataFrame:
    """(doc_id, tok) stream: lowercase whitespace tokens, empties
    dropped — the shared token universe of the set-similarity
    operators (prefix filter and tf-idf cosine must agree on it for
    their cross-operator comparisons to mean anything; note
    ``simhash`` deliberately KEEPS empty tokens — its oracle mirrors
    that — so it does not use this helper)."""
    docs = spread(docs)
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
        .alias("tok"),
    ).where(F.col("tok") != "")


def prefix_filter_pairs(
    docs: DataFrame, text_col: str = "text", tau: float = 0.6,
    broadcast_prefixes: bool = True,
) -> DataFrame:
    """EXACT token-set similarity join via prefix filtering (the
    PPJoin/AllPairs family): every pair with token-Jaccard ≥ ``tau``
    is found — a completeness guarantee MinHash LSH only approaches
    probabilistically — at far below all-pairs cost.

    The filter: order each doc's distinct tokens by ascending global
    document frequency (rarest first, ties by token); a pair with
    J ≥ tau MUST share a token among each side's first
    ``n − ⌈tau·n⌉ + 1`` tokens (if the prefixes were disjoint, too
    few tokens remain to reach tau) — so candidates come from a join
    on PREFIX tokens only, then exact Jaccard verifies.

    Output: (doc_a, doc_b, jaccard) with jaccard ≥ tau, 6-dp.

    Scale shape: df table and doc sizes are map-side-combined aggs;
    the prefix rank is a per-DOC window; the candidate join keys on
    prefix tokens, which are the RAREST tokens by construction — the
    anti-hot-key join (fan-out per token ≈ its df, and high-df tokens
    are excluded from prefixes of all but the largest docs); the
    verify stage joins full token sets only for candidate pairs.
    Every step mirrors exactly in SQL (same ceil of the same IEEE
    double ``tau·n``)."""
    # The distinct token table is consumed FIVE times (dfreq, sizes,
    # the prefix build and probe sides, and the verify sets) and each
    # consumer would re-run the corpus scan + explode + distinct
    # shuffle — the stage dump showed four ~20-exec-sec copies of the
    # same tokenize stage at sf0.1.  The lazy localCheckpoint
    # materializes it once per run and every consumer reads the
    # checkpointed partitions (guide §3.3 "materialising an
    # intermediate truncates the plan"; same pattern as kg_2hop).
    toks = (_exploded_tokens(docs, text_col).distinct()
            .localCheckpoint())
    dfreq = toks.groupBy("tok").agg(F.count("*").alias("_df"))
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("_n"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("_df").asc(), F.col("tok").asc())
    pref = (
        toks.join(dfreq, "tok")
        .withColumn("_rn", F.row_number().over(w))
        .join(sizes, "doc_id")
        .where(F.col("_rn")
               <= F.col("_n") - F.ceil(F.lit(tau) * F.col("_n")) + 1)
        .select("doc_id", "tok")
        # consumed twice (probe + broadcast build): checkpoint so the
        # df-join + per-doc window runs once, not per consumer
        .localCheckpoint()
    )
    # The candidate self-join FANS OUT (prefix rows → pairs), but its
    # shuffle INPUT is tiny, so AQE's byte-based coalescing would run
    # the whole pair expansion in one task.  ``broadcast_prefixes``
    # (default, the ngram_jaccard broadcast_pairs dial) broadcasts
    # the build side and spreads the probe side instead — the
    # expansion then parallelizes by probe partitions and the first
    # real shuffle (the distinct) carries genuine pair bytes that
    # AQE sizes correctly.  Set False when the prefix table is too
    # big to broadcast (corpus-scale runs): both sides then shuffle
    # by token as before.
    if broadcast_prefixes:
        pref_probe, pref_build = spread(pref), F.broadcast(pref)
    else:
        pref_probe = pref_build = pref
    cand = (
        pref_probe.select(F.col("doc_id").alias("doc_a"), "tok")
        .join(pref_build.select(F.col("doc_id").alias("doc_b"),
                                "tok"), "tok")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # Verify via per-doc sorted token ARRAYS + JVM array_intersect,
    # not an exploded-token join: the join form fans out to
    # pairs × avg-token-count rows (measured 619 CPU-seconds on the
    # sf1.0 slice — 20× the rest of the operator combined; guide
    # §2.3 "shuffle fewer bytes" / §3.3 explode-join note).  The
    # intersect of two distinct sets counts exactly the shared
    # tokens, so |A∩B| and the jaccard are value-identical
    # (cross-checked row-exact vs the join form and the oracle).
    sets = toks.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("tok")).alias("_set"),
        F.count("*").alias("_n"))
    ns = F.size(F.array_intersect("_sa", "_sb")).cast("long")
    jac = F.round(
        ns / (F.col("_na") + F.col("_nb") - ns), 6)
    return (
        cand
        .join(sets.select(F.col("doc_id").alias("doc_a"),
                          F.col("_set").alias("_sa"),
                          F.col("_n").alias("_na")), "doc_a")
        .join(sets.select(F.col("doc_id").alias("doc_b"),
                          F.col("_set").alias("_sb"),
                          F.col("_n").alias("_nb")), "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= tau)
    )


def _simhash_bands(
    docs: DataFrame, text_col: str, max_hamming: int,
) -> DataFrame:
    """(doc_id, simhash, band_idx, band_val) rows: the localCheck-
    pointed signature table exploded into ``max_hamming + 1`` bands —
    shared by :func:`simhash_pairs` and its recall-loss audit
    :func:`simhash_dropped_buckets`."""
    n_bands = max_hamming + 1
    if not 1 <= n_bands <= 64:
        raise ValueError(
            f"max_hamming must be in [0, 63], got {max_hamming}")
    base, rem = divmod(64, n_bands)
    widths = [base + (1 if i < rem else 0) for i in range(n_bands)]
    offsets = [sum(widths[:i]) for i in range(n_bands)]
    sigs = simhash(docs, text_col).localCheckpoint()
    return sigs.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("band_idx"),
                F.shiftright("simhash", offsets[i])
                .bitwiseAND(F.lit((1 << widths[i]) - 1))
                .alias("band_val"))
            for i in range(n_bands)])).alias("b"),
    ).select("doc_id", "simhash", "b.band_idx", "b.band_val")


def simhash_dropped_buckets(
    docs: DataFrame, text_col: str = "text", max_hamming: int = 3,
    max_bucket: int = 64,
) -> DataFrame:
    """The recall-loss audit for :func:`simhash_pairs`: every band
    bucket the ``max_bucket`` cap DROPS, with its population —
    pairs inside these buckets are the ones the capped candidate
    join never sees (and they skew toward templated near-identical
    docs, where the pigeonhole guarantee would matter most).
    Output: (band_idx, band_val, n_docs), descending by n_docs.
    Empty ⇒ the pair set is provably complete for ``max_hamming``."""
    bands = _simhash_bands(docs, text_col, max_hamming)
    return (
        bands.groupBy("band_idx", "band_val")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .where(F.col("n_docs") > max_bucket)
        .orderBy(F.col("n_docs").desc(), "band_idx", "band_val")
    )


def simhash_pairs(
    docs: DataFrame, text_col: str = "text", max_hamming: int = 3,
    max_bucket: int = 64,
) -> DataFrame:
    """SimHash near-duplicate pairs (Charikar / the Google-crawl
    scheme): candidate pairs share at least one of
    ``max_hamming + 1`` bands of the 64-bit signature, then the exact
    Hamming distance ``bit_count(xor)`` verifies.

    Completeness: the pigeonhole guarantee (≤ h differing bits touch
    at most h of h+1 bands, so one band is always identical) holds
    ONLY among documents outside capped buckets — the ``max_bucket``
    cap drops hot bands wholesale, and near-identical/templated
    documents, exactly the ones most likely to be within
    hamming ≤ h, are the ones that land in hot buckets, so the
    recall loss concentrates where the guarantee matters most.
    Audit the loss with :func:`simhash_dropped_buckets` (same
    signature), which returns each capped (band, value, n_docs) row;
    raise ``max_bucket`` — cost grows O(n²) per bucket — or route
    those docs through exact dedup if the dropped mass matters.
    The band COUNT derives from ``max_hamming`` (a fixed band count
    would silently lose recall for larger thresholds); the default
    h=3 gives the classic four 16-bit bands.
    Output: (doc_a, doc_b, hamming) with hamming ≤ ``max_hamming``.

    The bit-parallel complement of :func:`minhash_lsh_pairs` (set
    overlap) and ``winnowing_matches`` (shared runs): SimHash
    distance tracks weighted token-vector cosine, one BIGINT per doc.

    Scale shape: signatures are one map-side-combined agg (the
    simhash votes); banding is a 4× explode of doc-count rows (tiny —
    one BIGINT each); the band join is a shuffle hash join keyed by
    (band_idx, band_val) with the standard hot-bucket cap (the
    all-identical band of templated/empty docs would fan out M²);
    verification is pure JVM bit arithmetic, no second corpus scan.
    Band values use arithmetic-shift + mask, verified bit-identical
    between Spark and the SQL oracle (incl. the sign-bit band).

    The signature table is localCheckpointed: it is doc-COUNT-sized
    (one BIGINT per doc — tiny), it feeds three consumers (band
    explode and both sides of the band join), and the 64-vote
    aggregation behind it is the expensive stage — materializing once
    measured ~30% off the whole operator at sf0.1, unlike the
    corpus-sized winnowing fingerprint table where the same trick
    measured net-negative (shuffle reuse already covers it)."""
    bands = _simhash_bands(docs, text_col, max_hamming)
    ok = bands.groupBy("band_idx", "band_val") \
        .agg(F.count("*").alias("_n")) \
        .where(F.col("_n") <= max_bucket) \
        .select("band_idx", "band_val")
    rare = bands.join(ok, ["band_idx", "band_val"], "leftsemi")
    cand = (
        rare.select("band_idx", "band_val",
                    F.col("doc_id").alias("doc_a"),
                    F.col("simhash").alias("_sa"))
        .join(rare.select("band_idx", "band_val",
                          F.col("doc_id").alias("doc_b"),
                          F.col("simhash").alias("_sb")),
              ["band_idx", "band_val"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "_sa", "_sb")
        .distinct()
    )
    hamming = F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb")))
    return (
        cand.select("doc_a", "doc_b",
                    hamming.cast("int").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def cluster_representatives(
    docs: DataFrame, pairs: DataFrame, text_col: str = "text",
    max_iter: int = 25,
) -> DataFrame:
    """End-to-end near-dup collapse: candidate pairs → connected
    components (:func:`dup_clusters`) → per-cluster BEST-quality
    representative — the composition a real dedup pipeline actually
    ships (LSH finds the pairs, CC groups them, keep-best decides who
    survives).  Output: (cluster_id, rep_doc_id, quality_score,
    n_members).

    One corpus scan computes the fused quality score; the label table
    (pair-graph-sized, not corpus-sized) joins it keyed by doc_id; one
    window shuffle keyed by cluster does both the member count and the
    argmax (same exchange, two window functions)."""
    from .text import quality_score_col

    labels = dup_clusters(pairs, max_iter=max_iter)
    scored = spread(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        quality_score_col(F.col(text_col)).alias("quality_score"))
    # label table is pair-graph-node-sized with unknown post-
    # checkpoint stats: broadcast it so the corpus side stays put
    j = F.broadcast(labels).join(scored, "doc_id")
    wc = Window.partitionBy("cluster_id")
    wr = Window.partitionBy("cluster_id").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc())
    return (
        j.withColumn("n_members",
                     F.count("*").over(wc).cast("long"))
        .withColumn("_rn", F.row_number().over(wr))
        .where(F.col("_rn") <= 1)
        .select("cluster_id",
                F.col("doc_id").alias("rep_doc_id"),
                "quality_score", "n_members")
    )


def exact_dedup_keep_best(
    docs: DataFrame, score: DataFrame | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Exact dedup that keeps the BEST duplicate, not an arbitrary
    one: within each content-hash group the representative maximizes
    ``quality_score`` (ties broken by min doc_id) — what a real
    training pipeline does when duplicates differ in metadata.

    ``score=None`` (the fused path): ``md5(text)`` and the quality
    score are computed in ONE projection on the same scan — one
    shuffle total (the window over the hash), no doc_id join.  Pass a
    ``score`` DataFrame (doc_id, quality_score) only when scores come
    from elsewhere (a model, an earlier checkpoint); that path costs
    an extra scan + doc_id join and exists for exactly that case."""
    if score is None:
        from .text import quality_score_col

        joined = spread(docs).select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.md5(F.col(text_col)).alias("content_hash"),
            quality_score_col(F.col(text_col)).alias("quality_score"),
        )
    else:
        h = docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                        F.md5(F.col(text_col)).alias("content_hash"))
        joined = h.join(score.select(F.col("doc_id").cast("long")
                                     .alias("doc_id"), "quality_score"),
                        "doc_id")
    w = Window.partitionBy("content_hash").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc())
    # `_rn <= 1`, not `== 1`: the <= form matches Catalyst's
    # InferWindowGroupLimit pattern, planning per-partition top-1
    # heaps BELOW the exchange (measured ~2x on the window stage);
    # identical rows since row_number is unique per partition.
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= 1)
        .select("content_hash",
                F.col("doc_id").alias("rep_doc_id"),
                "quality_score")
    )
