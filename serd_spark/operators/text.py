"""Text-analysis operators for training-data pipelines over the
``documents`` table: token counting, quality scoring, n-gram language
ID heuristic, document fingerprinting.

All stages are JVM-side column expressions (whole-stage codegen, no
Python in the hot path) and each has an exact DuckDB-SQL mirror in
``__spark_entry__.oracle_sql`` — the definitions below are chosen to
be engine-portable (explicit char classes, md5, deterministic
tie-breaks).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .util import spread

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic (deterministic, no model).
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "y"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
}

STOPWORDS_EN = LANG_STOPWORDS["en"] + ["a", "in", "it", "for", "on"]

PUNCT_CLASS = r"[.,!?;:]"
# BPE-ish token regex: words, numbers, or single punctuation marks.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens_col(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def token_count_col(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens_col(text))


def bpe_token_count_col(text: Column) -> Column:
    """BPE-ish token count via regexp_count (words+numbers+punct)."""
    return F.regexp_count(text, F.lit(BPE_TOKEN_RE))


def _word_hits_col(text_lower: Column, words) -> Column:
    """Occurrence count of any of ``words`` as whole tokens, in ONE
    regexp pass (``\\b(w1|w2|...)\\b``).  Identical to summing
    per-word ``regexp_count``s — the words are distinct whole tokens,
    so a position matches at most one branch and matches never
    overlap — but one text scan instead of len(words)."""
    return F.regexp_count(
        text_lower, F.lit(r"\b(?:" + "|".join(words) + r")\b")
    ).cast("long")


def quality_score_col(text: Column) -> Column:
    """Combined quality score in [0,1] as a pure COLUMN expression —
    compose it onto any scan with ``withColumn`` (zero joins, zero
    extra scans).  ``quality_features`` is the DataFrame wrapper."""
    n_chars = F.length(text)
    n_tokens = token_count_col(text)
    n_punct = F.regexp_count(text, F.lit(PUNCT_CLASS))
    stop_hits = _word_hits_col(F.lower(text), STOPWORDS_EN)
    punct_ratio = F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6)
    stop_ratio = F.round(stop_hits / F.greatest(n_tokens, F.lit(1)), 6)
    return F.round(
        F.least(F.lit(1.0), n_tokens / F.lit(64.0)) * 0.4
        + F.least(F.lit(1.0), stop_ratio * F.lit(4.0)) * 0.4
        + F.when(punct_ratio < 0.1, F.lit(0.2)).otherwise(F.lit(0.0)),
        6,
    )


def quality_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation-ratio / stopword-ratio quality features +
    a combined score in [0,1] (deterministic heuristic)."""
    text = F.col(text_col)
    n_chars = F.length(text)
    n_tokens = token_count_col(text)
    n_punct = F.regexp_count(text, F.lit(PUNCT_CLASS))
    stop_hits = _word_hits_col(F.lower(text), STOPWORDS_EN)
    punct_ratio = F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6)
    stop_ratio = F.round(stop_hits / F.greatest(n_tokens, F.lit(1)), 6)
    mean_tok_len = F.round(n_chars / F.greatest(n_tokens, F.lit(1)), 6)
    return docs.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        n_punct.cast("long").alias("n_punct"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stop_ratio"),
        mean_tok_len.alias("mean_tok_len"),
        quality_score_col(text).alias("quality_score"),
    )


def _lang_scores(text: Column) -> dict:
    lowered = F.lower(text)
    return {
        lang: _word_hits_col(lowered, words)
        for lang, words in LANG_STOPWORDS.items()
    }


def lang_pred_col(text: Column) -> Column:
    """Predicted language as a pure COLUMN expression (stopword-vote
    argmax, lexicographic tie-break, 'und' on zero votes) — compose it
    onto any scan with ``withColumn``; joining the ``lang_id``
    DataFrame back to the corpus costs a full-corpus shuffle that this
    avoids entirely."""
    scores = _lang_scores(text)
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    for lang in sorted(LANG_STOPWORDS, reverse=True):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    return F.when(best == 0, F.lit("und")).otherwise(pred)


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-vote language ID: count word-boundary hits per
    language, argmax with lexicographic tie-break."""
    text = F.col(text_col)
    scores = _lang_scores(text)
    return docs.select(
        "doc_id",
        *[scores[lang].alias(f"score_{lang}")
          for lang in sorted(LANG_STOPWORDS)],
        lang_pred_col(text).alias("lang_pred"),
    )


def langid_confusion(
    docs: DataFrame, text_col: str = "text", truth_col: str = "lang",
) -> DataFrame:
    """Confusion matrix of the heuristic language ID against the
    table's ground-truth label: (lang_true, lang_pred, n) — the eval
    harness every classifier-style gate needs before its threshold is
    trusted at corpus scale.  One scan (``lang_pred_col`` composed
    inline), one map-side-combined aggregation.  The scan is
    ``spread`` first — the per-row stopword regex battery is the cost
    and must not run on a one-split input (util.spread)."""
    docs = spread(docs)
    return (
        docs.select(F.col(truth_col).alias("lang_true"),
                    lang_pred_col(F.col(text_col)).alias("lang_pred"))
        .groupBy("lang_true", "lang_pred")
        .agg(F.count("*").cast("long").alias("n"))
    )


def lm_bigram_score(
    docs: DataFrame, text_col: str = "text",
    model_docs: DataFrame | None = None,
) -> DataFrame:
    """Per-document mean bigram log-likelihood under an add-one-
    smoothed corpus bigram model — the CCNet/KenLM-style fluency
    filter with the corpus itself as the model (no external LM):

    ``score(d) = mean over adjacent pairs ln((c(w1w2)+1) / (c(w1)+V))``

    Gibberish and boilerplate score low; text whose transitions match
    corpus statistics scores high.  Output: (doc_id, n_bigrams,
    lm_score) for docs with ≥1 bigram.

    Self-counting caveat: each document's own bigrams are part of the
    corpus counts (standard for a corpus-as-model filter, and what
    keeps the operator one-pass/SQL-mirrorable), so rare documents
    score slightly higher than a leave-one-out model would give them —
    every bigram is guaranteed c_ab ≥ 1 by its own occurrence.  At
    corpus scale the bias is O(1/corpus_count) per bigram and only
    matters for near-singleton transitions; rank order among
    gibberish vs fluent docs is unaffected.  For true held-out
    scoring pass ``model_docs`` (a disjoint split): the count tables
    fit on the model split and unseen bigrams/words degrade to the
    add-one floor ``ln(1 / V)`` via the left joins — the joins are
    LEFT + coalesce unconditionally, which is value-identical to the
    old inner joins on the default self-model path (every bigram
    matches its own corpus counts).

    Scale shape: unigram/bigram count tables are map-side-combined
    aggregations; the per-doc bigram stream joins them keyed by
    bigram/word (vocabulary-sized build sides, corpus-sized probe —
    plain shuffle hash joins, no broadcast assumption); V rides a
    one-row broadcast; one final per-doc aggregation."""
    from .dedup import _shingles_from_tokens

    def tok_arrays(d):
        d = spread(d)
        return d.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
            .alias("_t"))

    toks = tok_arrays(docs)
    mtoks = tok_arrays(model_docs) if model_docs is not None else toks
    uni = (
        mtoks.select(F.explode("_t").alias("w"))
        .where(F.col("w") != "")
        .groupBy("w").agg(F.count("*").alias("c_w"))
    )
    vocab = uni.agg(F.count("*").cast("double").alias("v_sz"))
    big_counts = (
        mtoks.select(F.explode(
            _shingles_from_tokens(F.col("_t"), 2)).alias("bg"))
        .groupBy("bg").agg(F.count("*").alias("c_ab"))
    )
    doc_bg = toks.select(
        "doc_id",
        F.explode(_shingles_from_tokens(F.col("_t"), 2)).alias("bg"))
    w1 = F.split(F.col("bg"), " ")[0]
    scored = (
        doc_bg.join(big_counts, "bg", "left")
        .withColumn("w", w1)
        .join(uni, "w", "left")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id",
                F.log((F.coalesce(F.col("c_ab"), F.lit(0)) + 1)
                      / (F.coalesce(F.col("c_w"), F.lit(0))
                         + F.col("v_sz"))).alias("lp"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_bigrams"),
             F.round(F.avg("lp"), 6).alias("lm_score"))
    )


def winnowing_fingerprints(
    docs: DataFrame, text_col: str = "text", k: int = 3, w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    the MOSS algorithm): hash every k-gram, slide a w-hash window over
    the sequence, keep each window's MINIMUM hash — the selected
    fingerprint set guarantees any shared run of ≥ w+k-1 tokens
    between two documents yields a shared fingerprint, at ~2/(w+1)
    the density of full shingling.  The real local-fingerprinting
    upgrade over the whole-document md5 of :func:`fingerprint`.

    Output: (doc_id, fp) — the DISTINCT selected hashes per doc.
    One scan → per-DOC windows (partitioned by doc_id, parallel) for
    the rolling min and the gram count; engine-portable (md5-prefix
    hashes compare lexicographically the same everywhere)."""
    from pyspark.sql import Window

    from .dedup import _shingles_from_tokens

    toks = spread(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("_t"))
    grams = toks.select(
        "doc_id",
        F.posexplode(_shingles_from_tokens(F.col("_t"), k))
        .alias("pos", "gram"))
    hashed = grams.select(
        "doc_id", "pos",
        F.substring(F.md5(F.col("gram")), 1, 16).alias("h"))
    wn = Window.partitionBy("doc_id").orderBy("pos") \
        .rowsBetween(Window.currentRow, w - 1)
    cnt = Window.partitionBy("doc_id")
    return (
        hashed
        .withColumn("_win_min", F.min("h").over(wn))
        .withColumn("_n", F.count("*").over(cnt))
        .where(F.col("pos") <= F.col("_n") - w)  # full windows only
        .select("doc_id", F.col("_win_min").alias("fp"))
        .distinct()
    )


def winnowing_matches(
    docs: DataFrame, text_col: str = "text", k: int = 3, w: int = 4,
    min_shared: int = 2, max_bucket: int = 64,
) -> DataFrame:
    """Cross-document winnowing matches — the actual MOSS output the
    per-doc fingerprint sets exist for: (doc_a, doc_b, n_shared,
    n_a, n_b) for every unordered pair sharing ≥ ``min_shared``
    selected fingerprints, with each side's total fingerprint count
    for containment scoring (integers only — no float column, no
    rounding grain to defend).  The span-level complement of
    ``minhash_lsh_pairs``: LSH estimates whole-document Jaccard,
    winnowing matches localize shared RUNS (quotes, boilerplate,
    plagiarized passages).

    Scale shape: one self-join keyed by fingerprint hash — a plain
    shuffle hash join on ``fp`` (no broadcast assumption: both sides
    are corpus-sized), then one map-side-combined pair count.  The
    same hot-bucket hazard as LSH banding applies: a boilerplate
    fingerprint occurring in M documents fans out M² pairs, so
    fingerprints occurring in more than ``max_bucket`` documents are
    dropped before the join (they carry no discriminative signal —
    the exact analogue of ``minhash_lsh_pairs``'s bucket cap, and
    what keeps the operator alive at 100 TB where some template hash
    WILL appear in millions of docs).  ``n_a``/``n_b`` count the full
    uncapped sets, so containment denominators are unaffected by the
    cap.  Every step is an exact SQL mirror (same cap, same counts).
    """
    fps = winnowing_fingerprints(docs, text_col, k, w)
    sizes = fps.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_fps"))
    rare = fps.join(
        fps.groupBy("fp").agg(F.count("*").alias("_nd"))
           .where(F.col("_nd") <= max_bucket).select("fp"),
        "fp")
    pairs = (
        rare.select(F.col("doc_id").alias("doc_a"), "fp")
        .join(rare.select(F.col("doc_id").alias("doc_b"), "fp"), "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    return (
        pairs
        .join(sizes.select(F.col("doc_id").alias("doc_a"),
                           F.col("n_fps").alias("n_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"),
                           F.col("n_fps").alias("n_b")), "doc_b")
        .select("doc_a", "doc_b", "n_shared", "n_a", "n_b")
    )


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 over whitespace-normalized lowercase
    text (rolling-hash stand-in; md5 exists in both engines)."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))),
                            r"\s+", " ")
    return docs.select(
        "doc_id", F.md5(norm).alias("fingerprint"),
        F.length(norm).cast("long").alias("norm_len"))


def vocab_topk(docs: DataFrame, text_col: str = "text",
               k: int = 100) -> DataFrame:
    """Corpus vocabulary: global token frequencies, top-k with a
    deterministic tie-break (count desc, token asc).

    The 100 TB shape: explode → groupBy(token) is one shuffle with
    map-side partial counts (the shuffle carries one row per distinct
    token per partition, not per occurrence); the top-k itself is
    ``orderBy(...).limit(k)`` which Spark executes as
    TakeOrderedAndProject — per-partition heaps + a driver merge, no
    single-reducer global sort.  Ranks are added on the k-row result.
    """
    from pyspark.sql import Window

    toks = spread(docs).select(
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
        .alias("token")).where(F.col("token") != "")
    counts = toks.groupBy("token").agg(
        F.count("*").cast("long").alias("n"))
    top = counts.orderBy(F.col("n").desc(), F.col("token").asc()).limit(k)
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def bigram_pmi(
    docs: DataFrame, text_col: str = "text", k: int = 50,
    min_count: int = 5,
) -> DataFrame:
    """Top-k bigram collocations by pointwise mutual information —
    the vocabulary-building / tokenizer-diagnostics pass (which word
    pairs behave as units; cf. the phrase-merging step of word2vec
    and the pair statistics BPE training consumes).

    ``pmi = round(ln(c_ab · N / (c_a · c_b)), 6)`` with N = total
    token count; bigrams below ``min_count`` are noise and dropped.

    Scale shape: unigram and bigram counts are two map-side-combined
    aggregations keyed by word/pair (the shuffles carry one row per
    distinct term per partition); the component-word joins are keyed
    by word over vocabulary-sized tables (no corpus shuffle); N rides
    a one-row broadcast; the top-k is ``orderBy().limit()`` =
    TakeOrderedAndProject (per-partition heaps, no global sort).
    Ordering uses the ROUNDED pmi (ties broken by bigram asc) so the
    cut is engine-portable."""
    from .dedup import _shingles_from_tokens

    toks = spread(docs).select(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("_t"))
    uni = (
        toks.select(F.explode("_t").alias("w"))
        .where(F.col("w") != "")
        .groupBy("w").agg(F.count("*").alias("c_w"))
    )
    total = uni.agg(F.sum("c_w").cast("double").alias("n_tok"))
    big = (
        toks.select(F.explode(
            _shingles_from_tokens(F.col("_t"), 2)).alias("bg"))
        .groupBy("bg").agg(F.count("*").alias("c_ab"))
        .where(F.col("c_ab") >= min_count)
        .withColumn("w1", F.split("bg", " ")[0])
        .withColumn("w2", F.split("bg", " ")[1])
        .where((F.col("w1") != "") & (F.col("w2") != ""))
    )
    scored = (
        big.join(uni.select(F.col("w").alias("w1"),
                            F.col("c_w").alias("c_a")), "w1")
        .join(uni.select(F.col("w").alias("w2"),
                         F.col("c_w").alias("c_b")), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            F.col("bg").alias("bigram"),
            F.col("c_ab").cast("long").alias("n_pair"),
            F.round(F.log(F.col("c_ab") * F.col("n_tok")
                          / (F.col("c_a") * F.col("c_b"))), 6)
            .alias("pmi"))
    )
    return scored.orderBy(F.col("pmi").desc(),
                          F.col("bigram").asc()).limit(k)


def tfidf_topk(
    docs: DataFrame, text_col: str = "text", k: int = 3,
) -> DataFrame:
    """Top-k characteristic terms per document by tf·idf
    (``tf · ln(N / df)``, rounded to 6 dp) — the keyword/topic-profile
    pass (cluster labeling, near-dup explanation, index terms).

    Scale shape: term frequencies and document frequencies are two
    map-side-combined aggregations (the df table derives from the tf
    table — the corpus is scanned ONCE); the idf join is keyed by term
    over vocabulary-sized tables; N rides a one-row broadcast; the
    per-doc top-k uses a LITERAL rank bound so Catalyst plans a
    Partial WindowGroupLimit below the exchange (per-partition top-k
    heaps — the same idiom as ``stratified_take``).  Ordering uses the
    ROUNDED score (ties → term asc) so the cut is engine-portable."""
    from pyspark.sql import Window

    tf = (
        spread(docs).select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.explode(F.split(F.trim(F.lower(F.col(text_col))),
                              r"\s+")).alias("term"))
        .where(F.col("term") != "")
        .groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    )
    df_tbl = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").cast("double").alias("n_docs"))
    scored = (
        tf.join(df_tbl, "term")
        .crossJoin(F.broadcast(n_docs))
        .select("doc_id", "term",
                F.col("tf").cast("long").alias("tf"),
                F.round(F.col("tf")
                        * F.log(F.col("n_docs") / F.col("df")), 6)
                .alias("tfidf"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.lit(k))
        .withColumn("rank", F.col("rank").cast("long"))
    )


def hash_uniform_col(key, salt: str = "") -> Column:
    """Deterministic uniform [0,1) from a key: first 8 md5 hex chars
    as a 32-bit integer over 2^32.  Engine-portable (md5 everywhere),
    stable under retries/partitioning — the right way to sample a
    training corpus (never ``rand()``, which breaks exactly-once and
    reproducibility)."""
    h = F.md5(F.concat(key.cast("string"), F.lit(salt)))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("double")
            / F.lit(float(1 << 32)))


def stratified_sample(
    docs: DataFrame, rates: dict, strata_col: str = "lang_pred",
    key_col: str = "doc_id", default_rate: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Deterministic per-stratum sampling — the data-mixing op
    (upsample rare languages / downsample boilerplate): keep a row iff
    ``hash_uniform(key) < rates[stratum]``.

    The rate table rides a broadcast join (tiny dim), the filter is a
    pure JVM column expression, and membership is a pure function of
    (key, salt) — reruns, retries, and different partitionings all
    select the same rows.  Different ``salt`` values draw independent
    samples (e.g. train/validation splits)."""
    spark = docs.sparkSession
    rate_tbl = spark.createDataFrame(
        [(k, float(v)) for k, v in sorted(rates.items())],
        f"{strata_col} string, _rate double")
    u = hash_uniform_col(F.col(key_col), salt)
    return (
        spread(docs, barrier=True)
        .join(F.broadcast(rate_tbl), strata_col, "left")
        .withColumn("_rate", F.coalesce("_rate", F.lit(default_rate)))
        .where(u < F.col("_rate"))
        .drop("_rate")
    )


def stratified_take(
    docs: DataFrame, counts: dict, strata_col: str = "lang_pred",
    key_col: str = "doc_id", salt: str = "",
) -> DataFrame:
    """Quota sampling: take EXACTLY ``counts[stratum]`` rows per
    stratum (or all rows if the stratum is smaller) — the data-mixing
    variant when targets are absolute counts, not rates.  Rows are
    ranked inside each stratum by the deterministic md5 uniform (then
    key for total order), so the selection is a pure function of
    (key, salt): stable under retries, replays, and repartitioning,
    and different salts draw independent quota samples.  One shuffle
    (the per-stratum window).

    Scale note: the filter's FIRST conjunct is ``_rk <= max(counts)``
    — a LITERAL bound, which lets Catalyst's ``InferWindowGroupLimit``
    insert a ``WindowGroupLimit`` (per-partition top-k heap) BELOW the
    exchange: each map task forwards at most max-quota rows per
    stratum instead of the whole corpus sorting through a handful of
    stratum reducers.  The exact per-stratum quota (``_rk <= _take``,
    a column, invisible to the rewrite) stays as the residual
    conjunct.  A plan test pins the ``WindowGroupLimit`` node."""
    from pyspark.sql import Window

    spark = docs.sparkSession
    cnt_tbl = spark.createDataFrame(
        [(k, int(v)) for k, v in sorted(counts.items())],
        f"{strata_col} string, _take int")
    max_take = max([int(v) for v in counts.values()], default=0)
    u = hash_uniform_col(F.col(key_col), salt)
    w = Window.partitionBy(strata_col).orderBy(
        u.asc(), F.col(key_col).asc())
    return (
        spread(docs, barrier=True)
        .join(F.broadcast(cnt_tbl), strata_col)
        .withColumn("_rk", F.row_number().over(w))
        .where((F.col("_rk") <= F.lit(max_take))
               & (F.col("_rk") <= F.col("_take")))
        .drop("_rk", "_take")
    )


def source_quality_stats(
    docs: DataFrame, text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source quality profile: doc count and avg/min/max of the
    composed quality score, one scan (``quality_score_col`` inline —
    no doc_id join) + one map-side-combined aggregation keyed by
    source.  The producer-level curation signal: real pipelines drop
    or downsample entire sources/dumps/domains wholesale (FineWeb's
    per-dump filtering) before touching per-doc gates."""
    q = quality_score_col(F.col(text_col))
    return (
        docs.select(F.col(source_col).alias("source"), q.alias("_q"))
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("n_docs"),
             F.round(F.avg("_q"), 6).alias("avg_quality"),
             F.min("_q").alias("min_quality"),
             F.max("_q").alias("max_quality"))
    )


def quality_buckets(
    docs: DataFrame, text_col: str = "text",
    percentiles: tuple = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Quartile composition of the corpus by quality score:
    (bucket, n_docs, avg_quality) — the data-mixing analysis that
    decides how much of each quality band a training mix keeps.

    Deliberately NOT ``ntile``: a corpus-wide ntile is an
    unpartitioned window — one task sorts the whole corpus at scale.
    Instead the exact percentile thresholds come from ONE aggregation
    (``percentile``, same linear interpolation as SQL
    ``quantile_cont``; swap ``percentile_approx`` for the sketch at
    huge scale), broadcast back as a single row, and bucket assignment
    is a map-side comparison — no global sort anywhere.  Bucket k =
    number of thresholds strictly below the score, so bucket
    boundaries are closed on the left engine-portably."""
    q = quality_score_col(F.col(text_col))
    scored = spread(docs).select(q.alias("qs"))
    th = scored.agg(*[
        F.round(F.percentile(F.col("qs"), F.lit(p)), 6)
        .alias(f"_t{i}")
        for i, p in enumerate(percentiles)])
    bucket = F.lit(0)
    for i in range(len(percentiles)):
        bucket = bucket + F.when(
            F.col("qs") > F.col(f"_t{i}"), 1).otherwise(0)
    return (
        scored.crossJoin(F.broadcast(th))
        .withColumn("bucket", bucket.cast("long"))
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n_docs"),
             F.round(F.avg("qs"), 6).alias("avg_quality"))
    )


def doc_length_profile(
    docs: DataFrame, text_col: str = "text",
    percentiles: tuple = (0.5, 0.9, 0.99),
    approx: bool = False, approx_accuracy: int = 10000,
) -> DataFrame:
    """Corpus length profile per language stratum: percentiles, mean,
    and extremes of char length and whitespace token count.

    ``lang_pred`` is composed inline via :func:`lang_pred_col` — one
    scan of the corpus, one aggregation shuffle, no doc_id join (the
    round-2 version joined ``lang_id(docs)`` back to ``docs``: two
    scans plus a full-corpus shuffle hash join, all avoidable).

    ``approx=False`` (default): exact percentiles (Spark
    ``percentile`` = linear interpolation, the same definition as SQL
    ``quantile_cont``) — needs a per-group sort; the oracle row.
    ``approx=True``: ``percentile_approx`` (Greenwald-Khanna sketch,
    mergeable, no per-group sort) — the huge-corpus/streaming shape;
    error bounded by 1/approx_accuracy of the rank."""
    aggs = []
    for name in ("chars", "toks"):
        for p in percentiles:
            if approx:
                q = F.percentile_approx(
                    F.col(name), F.lit(p), F.lit(approx_accuracy))
            else:
                q = F.percentile(F.col(name), F.lit(p))
            aggs.append(F.round(q, 6).alias(f"{name}_p{int(p * 100)}"))
        aggs.append(F.round(F.avg(name), 6).alias(f"{name}_mean"))
        aggs.append(F.min(name).cast("long").alias(f"{name}_min"))
        aggs.append(F.max(name).cast("long").alias(f"{name}_max"))
    text = F.col(text_col)
    return (
        spread(docs).select(
            lang_pred_col(text).alias("lang_pred"),
            F.length(text).cast("double").alias("chars"),
            token_count_col(text).cast("double").alias("toks"))
        .groupBy("lang_pred")
        .agg(F.count("*").cast("long").alias("n_docs"), *aggs)
    )


def repetition_features(
    docs: DataFrame, text_col: str = "text", ks: tuple = (2, 3),
) -> DataFrame:
    """Within-document repetition signals (the Gopher/FineWeb-style
    boilerplate filter): for each n-gram size k, the fraction of
    n-gram OCCURRENCES that are duplicates of an earlier occurrence
    (``1 - distinct/total``), plus the duplicate fraction of whole
    lines.  High values flag templated/spammy documents.

    Pure JVM column expressions — the shingle arrays come from the
    same slice+zip_with construction as the dedup operators (no
    per-element re-evaluation), distinctness via ``array_distinct``;
    no shuffle beyond the scan."""
    from ..operators.dedup import _shingles_from_tokens

    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    cols = [F.col("doc_id").cast("long").alias("doc_id")]
    base = docs.select("doc_id", toks.alias("_toks"),
                       F.split(F.col(text_col), "\n").alias("_lines"))
    for k in ks:
        sh = _shingles_from_tokens(F.col("_toks"), k)
        n = F.size(sh)
        dup_frac = F.when(
            n > 0,
            F.round(1 - F.size(F.array_distinct(sh)) / n, 6),
        ).otherwise(F.lit(0.0))
        cols.append(dup_frac.alias(f"dup_{k}gram_frac"))
    lines = F.filter(F.col("_lines"), lambda x: F.trim(x) != "")
    n_lines = F.size(lines)
    cols.append(
        F.when(n_lines > 0,
               F.round(1 - F.size(F.array_distinct(lines)) / n_lines, 6))
        .otherwise(F.lit(0.0)).alias("dup_line_frac"))
    return base.select(*cols)


# URL extraction: RE2-compatible (no lookaround), same pattern in
# Spark and the SQL oracle.  Conservative charset: scheme + host +
# optional path; query strings and fragments are cut at the first
# char outside the class (deterministic in both engines).
URL_RE = r"https?://[A-Za-z0-9.\-]+(?:/[A-Za-z0-9._/\-]*)?"
DOMAIN_RE = r"https?://([A-Za-z0-9.\-]+)"


def extract_urls(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, url, domain) — one row per URL occurrence.  Pure JVM
    ``regexp_extract_all`` + explode: one scan, no shuffle.  (NOT
    ``spread`` — measured: the URL regex is cheaper than the extra
    exchange, 0.6 s vs 1.0 s for domain_stats at sf1.0.)"""
    return (
        docs.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.explode(F.regexp_extract_all(
                F.col(text_col), F.lit(URL_RE), F.lit(0))).alias("url"))
        .withColumn("domain",
                    F.regexp_extract(F.col("url"), DOMAIN_RE, 1))
    )


def drop_blocked_domains(
    docs: DataFrame, blocked: DataFrame, text_col: str = "text",
) -> DataFrame:
    """C4-style domain blocklist filter: drop every document whose
    text links ANY blocked domain.  ``blocked`` is (domain) — tiny by
    construction, so the flagging join broadcasts and the corpus never
    shuffles: one scan to extract URLs, a map-side semi join to find
    offending doc_ids (a small set), then a broadcast anti join back
    to the corpus."""
    offending = (
        extract_urls(docs, text_col)
        .join(F.broadcast(blocked.select("domain")), "domain",
              "left_semi")
        .select("doc_id").distinct()
    )
    return docs.join(
        F.broadcast(offending),
        docs["doc_id"].cast("long") == offending["doc_id"],
        "left_anti")


def domain_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-domain corpus stats (the C4/RefinedWeb-style domain
    filtering basis): URL occurrences and distinct documents per
    domain.  One aggregation shuffle with map-side partial counts."""
    u = extract_urls(docs, text_col)
    return u.groupBy("domain").agg(
        F.count("*").cast("long").alias("n_urls"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
    )


def domain_cooccurrence(
    docs: DataFrame, text_col: str = "text",
    max_doc_domains: int = 32, min_docs: int = 1,
) -> DataFrame:
    """Domain co-link graph: (domain_a, domain_b, n_docs) for every
    unordered pair of domains linked by the same document, weighted
    by the number of documents co-linking them — the web-graph signal
    behind domain-authority scoring (feed the edges to
    ``graph.pagerank_weighted``) and link-farm detection (cliques of
    mutually co-linked junk domains).

    Scale shape: one scan → URL explode → per-doc DISTINCT domain
    set; the pair join is keyed by doc_id, so fan-out is bounded by
    (domains per doc)², never corpus-scale.  Documents linking more
    than ``max_doc_domains`` distinct domains are dropped BEFORE the
    join (link directories and spam hubs — the quadratic hazard, same
    cap discipline as the LSH/winnowing hot buckets); the final
    aggregation is one shuffle keyed by the pair with map-side
    combine.  Exactly SQL-mirrorable (cap and count included)."""
    d = extract_urls(docs, text_col).select("doc_id", "domain") \
        .distinct()
    ok = d.groupBy("doc_id").agg(F.count("*").alias("_nd")) \
        .where(F.col("_nd") <= max_doc_domains).select("doc_id")
    dd = d.join(ok, "doc_id", "leftsemi")
    return (
        dd.select("doc_id", F.col("domain").alias("domain_a"))
        .join(dd.select("doc_id", F.col("domain").alias("domain_b")),
              "doc_id")
        .where(F.col("domain_a") < F.col("domain_b"))
        .groupBy("domain_a", "domain_b")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
    )


# PII patterns: deliberately RE2-compatible (no lookaround/backrefs)
# so the same pattern runs in Spark (Java regex) and the SQL oracle.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}",
     "<EMAIL>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
     "<IP>"),
    ("phone", r"\+[0-9][0-9 ()\-]{6,}[0-9]", "<PHONE>"),
)


def compression_ratio(docs: DataFrame, text_col: str = "text",
                      level: int = 6) -> DataFrame:
    """Compression-ratio quality signal (RefinedWeb/MassiveText-style
    boilerplate proxy): deflate ratio of the UTF-8 text — highly
    repetitive/templated documents compress far below natural prose.
    zlib with a FIXED level is deterministic bit-for-bit across
    platforms (the format pins the algorithm), so the column is
    retry/replay-stable; it is genuinely not SQL-expressible, so this
    operator is pytest-gated (known-compressible vs high-entropy
    fixtures) rather than oracle-paired.  Arrow-batched pandas UDF —
    one scan, no shuffle."""
    import zlib

    from pyspark.sql.functions import pandas_udf

    # no type hints: this module has `from __future__ import
    # annotations`, which stringifies hints and breaks pandas_udf's
    # eval-type inference — hint-less defaults to the scalar UDF
    @pandas_udf("double")
    def ratio(texts):
        def one(t):
            if not t:
                return 1.0
            raw = t.encode("utf-8")
            return round(len(zlib.compress(raw, level)) / len(raw), 6)
        return texts.map(one)

    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        ratio(F.col(text_col)).alias("compress_ratio"),
    )


def clean_corpus(
    docs: DataFrame, text_col: str = "text",
    min_quality: float = 0.5, lang: str = "en",
    max_dup_2gram: float = 0.5,
) -> DataFrame:
    """The composed training-data quality gate (FineWeb/C4-style):
    language + quality score + repetition + PII checks fused into ONE
    scan — every predicate is a column expression riding the same
    projection (this is why ``lang_pred_col``/``quality_score_col``
    exist as Column builders: the naive form joins four derived
    DataFrames back on doc_id, shuffling the corpus four times).

    Keeps docs that are in ``lang``, score ≥ ``min_quality``, have
    2-gram duplicate fraction < ``max_dup_2gram``, and contain no
    email addresses.  Output carries the gate features for audit."""
    from .dedup import _shingles_from_tokens

    text = F.col(text_col)
    toks = F.split(F.trim(F.lower(text)), r"\s+")
    sh = _shingles_from_tokens(toks, 2)
    n_sh = F.size(sh)
    dup2 = F.when(
        n_sh > 0,
        F.round(1 - F.size(F.array_distinct(sh)) / n_sh, 6),
    ).otherwise(F.lit(0.0))
    n_email = F.regexp_count(text, F.lit(PII_PATTERNS[0][1]))
    out = spread(docs, barrier=True).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        lang_pred_col(text).alias("lang_pred"),
        quality_score_col(text).alias("quality_score"),
        dup2.alias("dup_2gram_frac"),
        n_email.cast("long").alias("n_email"),
    )
    return out.where(
        (F.col("lang_pred") == lang)
        & (F.col("quality_score") >= min_quality)
        & (F.col("dup_2gram_frac") < max_dup_2gram)
        & (F.col("n_email") == 0)
    )


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Training-data PII redaction: mask emails, IPv4 addresses, and
    international-format phone numbers with typed placeholders, and
    count each kind (the audit trail).  Pure JVM ``regexp_replace``/
    ``regexp_count`` — no Python in the path; patterns applied in a
    fixed order so output is engine-reproducible.  (A production
    scrubber adds locale-specific ids; the operator shape — ordered
    pattern table, typed counts, masked column — is the contract.)"""
    text = F.col(text_col)
    counts = [
        F.regexp_count(text, F.lit(pat)).cast("long").alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    scrubbed = text
    for _, pat, repl in PII_PATTERNS:
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        *counts,
        scrubbed.alias("scrubbed"),
    )
