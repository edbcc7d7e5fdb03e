"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: build an NTriples corpus from the
sf0.001 star tables, run it through the engine's shuffle-free NT parse
stage, and return the triples DataFrame.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator
family (SURVEY.md §2.5 + the training-data operators).  Oracles are
exact DuckDB mirrors; column names and types are aligned on both
sides.  Floating aggregates use integer-cents math so the value hash
is bit-stable across engines; similarity scores are rounded to 6 dp.

Queries without an oracle entry (kg_parse_turtle, srp_ann) are the
genuinely non-SQL-expressible ops — the driver records rows-only
checks for those; their real correctness gates are the W3C suites and
the ANN-recall pytest.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

SF_DEFAULT = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------- entry

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: sf0.001 tables → NT lines → line-parallel parse →
    deduped triples (SURVEY.md §7 minimum slice, on driver testdata)."""
    from serd_spark.operators.canonicalize import dedup_triples
    from serd_spark.operators.parse import (
        parse_ntriples_lines,
        split_quarantine,
    )

    nation = _t(spark, SF_DEFAULT, "nation")
    region = _t(spark, SF_DEFAULT, "region")
    lines = nation.select(
        F.lit("nation").alias("conv_id"),
        F.col("n_nationkey").cast("int").alias("turn_idx"),
        F.lit("tool").alias("role"),
        F.concat(
            F.lit("<urn:nation:"), "n_nationkey",
            F.lit("> <urn:schema:name> \""), "n_name", F.lit("\" .\n"),
            F.lit("<urn:nation:"), "n_nationkey",
            F.lit("> <urn:schema:region> <urn:region:"), "n_regionkey",
            F.lit("> ."),
        ).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    ).unionAll(
        region.select(
            F.lit("region").alias("conv_id"),
            F.col("r_regionkey").cast("int").alias("turn_idx"),
            F.lit("tool").alias("role"),
            F.concat(
                F.lit("<urn:region:"), "r_regionkey",
                F.lit("> <urn:schema:name> \""), "r_name", F.lit("\" ."),
            ).alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
    )
    triples, _errors = split_quarantine(parse_ntriples_lines(lines))
    return dedup_triples(triples)


# ------------------------------------------------------------- queries

def _q_nt_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse synthesized NT lines, re-emit canonical lines (O-7+O-24):
    parse∘format is the identity the oracle constructs directly."""
    from serd_spark.operators.canonicalize import nquads_line_col
    from serd_spark.operators.parse import (
        parse_ntriples_lines,
        split_quarantine,
    )

    part = _t(spark, sf_dir, "part")
    src = part.select(
        F.lit("parts").alias("conv_id"),
        F.col("p_partkey").cast("int").alias("turn_idx"),
        F.concat(
            F.lit("<urn:part:"), "p_partkey",
            F.lit("> <urn:schema:name> \""), "p_name",
            F.lit("\"@en .\n"),
            F.lit("<urn:part:"), "p_partkey",
            F.lit("> <urn:schema:size> \""), F.col("p_size").cast("string"),
            F.lit("\"^^<http://www.w3.org/2001/XMLSchema#integer> ."),
        ).alias("text"),
    )
    from serd_spark.operators.util import spread

    # the line parser is deliberately shuffle-free, so its
    # parallelism is the INPUT's — spread the one-split part scan
    # before the Python-heavy parse stage (guide §2.5)
    triples, _ = split_quarantine(
        parse_ntriples_lines(spread(src), salt_blanks=False))
    return triples.select(nquads_line_col(triples).alias("line"))


def _o_nt_roundtrip(_: str) -> str:
    return """
    SELECT '<urn:part:' || p_partkey || '> <urn:schema:name> "'
           || p_name || '"@en .' AS line FROM part
    UNION ALL
    SELECT '<urn:part:' || p_partkey || '> <urn:schema:size> "'
           || p_size || '"^^<http://www.w3.org/2001/XMLSchema#integer> .'
    FROM part
    """


def _q_agg_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style hash aggregation; integer-cents math for a
    bit-stable cross-engine hash (O-24 metrics analogue)."""
    li = _t(spark, sf_dir, "lineitem")
    cents = lambda c: F.round(F.col(c) * 100, 0).cast("long")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(cents("l_quantity")).cast("long").alias("sum_qty_c"),
            F.sum(cents("l_extendedprice")).cast("long").alias("sum_base_c"),
            F.sum(
                F.round(F.col("l_extendedprice") * 100, 0).cast("long")
                * F.round(F.col("l_discount") * 100, 0).cast("long")
            ).cast("long").alias("sum_disc_cross_c"),
            F.count("*").cast("long").alias("n_rows"),
        )
    )


def _o_agg_pricing(_: str) -> str:
    return """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(ROUND(l_quantity*100,0) AS BIGINT)) AS BIGINT)
               AS sum_qty_c,
           CAST(SUM(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)) AS BIGINT)
               AS sum_base_c,
           CAST(SUM(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)
                    * CAST(ROUND(l_discount*100,0) AS BIGINT)) AS BIGINT)
               AS sum_disc_cross_c,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """


def _q_broadcast_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURIE→IRI expansion as a broadcast join (O-18): prefixes dim
    from region, curies from nation."""
    from serd_spark.operators.expand import expand_curies

    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    prefixes = region.select(
        F.concat(F.lit("r"), F.col("r_regionkey").cast("string"))
        .alias("name"),
        F.concat(F.lit("urn:region:"), F.lower("r_name"), F.lit("#"))
        .alias("uri"),
    )
    curies = nation.select(
        F.concat(F.lit("r"), F.col("n_regionkey").cast("string"),
                 F.lit(":"), F.col("n_name")).alias("curie"))
    return expand_curies(curies, prefixes).select("curie", "iri")


def _o_broadcast_expand(_: str) -> str:
    return """
    SELECT 'r' || n_regionkey || ':' || n_name AS curie,
           'urn:region:' || lower(r_name) || '#' || n_name AS iri
    FROM nation LEFT JOIN region ON n_regionkey = r_regionkey
    """


def _q_anti_join_undefined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undefined-prefix detection as a left-anti join (O-18 error
    path): only even region prefixes are bound."""
    from serd_spark.operators.expand import undefined_prefixes

    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    prefixes = (
        region.where(F.col("r_regionkey") % 2 == 0)
        .select(F.concat(F.lit("r"), F.col("r_regionkey").cast("string"))
                .alias("name"), F.lit("x").alias("uri"))
    )
    curies = nation.select(
        F.concat(F.lit("r"), F.col("n_regionkey").cast("string"),
                 F.lit(":"), F.col("n_name")).alias("curie"))
    return undefined_prefixes(curies, prefixes).select("curie")


def _o_anti_join_undefined(_: str) -> str:
    return """
    SELECT 'r' || n_regionkey || ':' || n_name AS curie
    FROM nation
    WHERE NOT EXISTS (
        SELECT 1 FROM region
        WHERE r_regionkey % 2 = 0 AND 'r' || r_regionkey = 'r' || n_regionkey)
    """


def _q_window_stmt_idx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stmt_idx-style ranking window (O-13/O-19 analogue)."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    return li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        F.row_number().over(w).cast("long").alias("stmt_idx"),
    )


def _o_window_stmt_idx(_: str) -> str:
    return """
    SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
           CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                   ORDER BY l_linenumber) AS BIGINT)
               AS stmt_idx
    FROM lineitem
    """


def _q_explode_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statement fan-out analogue (O-15): explode document words,
    count per word."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("n"))
    )


def _o_explode_fanout(_: str) -> str:
    return """
    SELECT word, COUNT(*) AS n FROM (
        SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
        FROM documents)
    GROUP BY word
    """


def _q_sorted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sorted top-k (O-24 sorted write analogue)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(),
                       F.col("o_orderkey").asc())
        .select("o_orderkey", "o_totalprice")
        .limit(100)
    )


def _o_sorted_topk(_: str) -> str:
    return """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100
    """


def _q_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-merge join + aggregation (lineage re-attach analogue);
    integer-cents revenue."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    rev = (F.round(F.col("l_extendedprice") * 100, 0).cast("long"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(rev).cast("long").alias("revenue_c"),
             F.count("*").cast("long").alias("n_items"))
    )


def _o_join_revenue(_: str) -> str:
    return """
    SELECT o_custkey,
           CAST(SUM(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)) AS BIGINT)
               AS revenue_c,
           COUNT(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_custkey
    """


def _q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-table join with per-side date/segment
    filters, discounted revenue in exact integer cent-percent units
    (price_c × (100 − disc_pct) — no float accumulation), top-10 via
    TakeOrderedAndProject with a deterministic tie-break."""
    cutoff = "1998-06-30"
    cust = _t(spark, sf_dir, "customer") \
        .where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders") \
        .where(F.col("o_orderdate").cast("timestamp")
               < F.lit(cutoff).cast("timestamp"))
    li = _t(spark, sf_dir, "lineitem") \
        .where(F.col("l_shipdate").cast("timestamp")
               > F.lit(cutoff).cast("timestamp"))
    rev = (F.round(F.col("l_extendedprice") * 100, 0).cast("long")
           * (F.lit(100)
              - F.round(F.col("l_discount") * 100, 0).cast("long")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd")
            .alias("order_date"))
        .agg(F.sum(rev).cast("long").alias("revenue_u"))
        .orderBy(F.col("revenue_u").desc(), F.col("order_date").asc(),
                 F.col("l_orderkey").asc())
        .limit(10)
    )


def _o_shipping_priority(_: str) -> str:
    return """
    SELECT l_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           CAST(SUM(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount*100,0) AS BIGINT)))
                AS BIGINT) AS revenue_u
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-30'
      AND l_shipdate > TIMESTAMP '1998-06-30'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue_u DESC, order_date ASC, l_orderkey ASC
    LIMIT 10
    """


def _q_late_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (EXISTS semi join with a correlated date
    predicate): orders with at least one line item shipped more than
    90 days after the order date, counted per priority class — the
    left-semi join the optimizer turns EXISTS into."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = (
        F.col("l_shipdate").cast("timestamp")
        > F.col("o_orderdate").cast("timestamp")
        + F.expr("INTERVAL 90 DAYS"))
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey) & late,
            "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("long").alias("n_orders"))
    )


def _o_late_shipping(_: str) -> str:
    return """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
    GROUP BY o_orderpriority
    """


def _q_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets: customer counts and account balance
    cents at (region, nation), (region), and grand-total grains in
    ONE pass — the OLAP cube surface (Spark plans one Expand + one
    aggregation, not three scans)."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    j = (cust.join(nation, cust.c_nationkey == nation.n_nationkey)
         .join(region, nation.n_regionkey == region.r_regionkey))
    bal_c = F.round(F.col("c_acctbal") * 100, 0).cast("long")
    return (
        j.rollup("r_name", "n_name")
        .agg(F.count("*").cast("long").alias("n_cust"),
             F.sum(bal_c).cast("long").alias("bal_c"))
    )


def _o_region_rollup(_: str) -> str:
    return """
    SELECT r_name, n_name,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(SUM(CAST(ROUND(c_acctbal*100,0) AS BIGINT)) AS BIGINT)
               AS bal_c
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """


def _q_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-priority order counts spread across order-status
    columns — Spark's groupBy().pivot() with an explicit value list
    (one aggregation; the explicit list avoids the extra distinct
    scan AND pins the output schema for the oracle, which mirrors
    with portable conditional aggregation)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).cast("long").alias("n_f"),
            F.coalesce("O", F.lit(0)).cast("long").alias("n_o"),
            F.coalesce("P", F.lit(0)).cast("long").alias("n_p"))
    )


def _o_status_pivot(_: str) -> str:
    return """
    SELECT o_orderpriority,
           CAST(COUNT(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_f,
           CAST(COUNT(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS n_o,
           CAST(COUNT(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS n_p
    FROM orders GROUP BY o_orderpriority
    """


def _q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct/set ops (suite-diff analogue): customers with no
    orders via exceptAll on distinct keys."""
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey")).distinct()
    with_orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey")).distinct()
    return cust.exceptAll(with_orders)


def _o_set_ops(_: str) -> str:
    return """
    SELECT DISTINCT c_custkey AS custkey FROM customer
    EXCEPT
    SELECT DISTINCT o_custkey AS custkey FROM orders
    """


def _q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


def _o_exact_dedup(_: str) -> str:
    return """
    SELECT md5(text) AS content_hash,
           CAST(MIN(doc_id) AS BIGINT) AS rep_doc_id,
           COUNT(*) AS n_dups
    FROM documents GROUP BY md5(text)
    """


def _q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), n_bands=4, shingle_k=3,
        max_bucket=64)


def _o_minhash_lsh(_: str) -> str:
    return """
    WITH words AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
        FROM documents),
    shingles AS (
        SELECT doc_id, unnest(
            CASE WHEN len(w) >= 3 THEN
                list_transform(range(1, len(w)-1),
                               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
            ELSE [] END) AS shingle
        FROM words),
    mh AS (
        SELECT doc_id, band,
               MIN(md5(shingle || '#' || band)) AS minhash
        FROM shingles, (SELECT unnest(range(0,4)) AS band)
        GROUP BY doc_id, band),
    sized AS (
        SELECT *, COUNT(*) OVER (PARTITION BY band, minhash) AS bucket_n
        FROM mh)
    SELECT DISTINCT CAST(a.doc_id AS BIGINT) AS doc_a,
                    CAST(b.doc_id AS BIGINT) AS doc_b
    FROM sized a JOIN sized b
      ON a.band = b.band AND a.minhash = b.minhash
     AND a.doc_id < b.doc_id
    WHERE a.bucket_n <= 64 AND b.bucket_n <= 64
    """


def _q_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: candidates between the 'new batch' (every
    10th doc) and the existing corpus — new side broadcast, corpus
    scanned once, no self-join."""
    from serd_spark.operators.dedup import minhash_lsh_pairs_incremental

    docs = _t(spark, sf_dir, "documents")
    new_docs = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    return minhash_lsh_pairs_incremental(
        corpus, new_docs, n_bands=4, shingle_k=3, max_bucket=64)


def _o_minhash_incremental(_: str) -> str:
    return """
    WITH words AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
        FROM documents),
    shingles AS (
        SELECT doc_id, unnest(
            CASE WHEN len(w) >= 3 THEN
                list_transform(range(1, len(w)-1),
                               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
            ELSE [] END) AS shingle
        FROM words),
    mh AS (
        SELECT doc_id, band,
               MIN(md5(shingle || '#' || band)) AS minhash
        FROM shingles, (SELECT unnest(range(0,4)) AS band)
        GROUP BY doc_id, band),
    corpus AS (
        SELECT *, COUNT(*) OVER (PARTITION BY band, minhash) AS bucket_n
        FROM mh WHERE doc_id % 10 <> 0),
    newb AS (SELECT * FROM mh WHERE doc_id % 10 = 0)
    SELECT DISTINCT CAST(c.doc_id AS BIGINT) AS doc_corpus,
                    CAST(n.doc_id AS BIGINT) AS doc_new
    FROM corpus c JOIN newb n
      ON c.band = n.band AND c.minhash = n.minhash
    WHERE c.bucket_n <= 64 AND c.doc_id <> n.doc_id
    """


def _q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.text import vocab_topk

    return vocab_topk(_t(spark, sf_dir, "documents"), k=100)


def _o_vocab_topk(_: str) -> str:
    return """
    WITH toks AS (
        SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        FROM documents),
    c AS (
        SELECT tok AS token, COUNT(*) AS n FROM toks
        WHERE tok <> '' GROUP BY tok)
    SELECT token, CAST(n AS BIGINT) AS n,
           CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS BIGINT)
               AS rank
    FROM c ORDER BY n DESC, token ASC LIMIT 100
    """


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing: language-stratified deterministic hash sampling
    over langid predictions (downsample en, keep others).  lang_pred
    is composed inline (lang_pred_col) — one corpus scan, no doc_id
    join."""
    from serd_spark.operators.text import lang_pred_col, stratified_sample
    from serd_spark.operators.util import spread

    # spread BEFORE composing lang_pred: the projection would
    # otherwise collapse into the one-split scan below the operator's
    # repartition, evaluating the regex battery serially (guide §2.5)
    docs = spread(_t(spark, sf_dir, "documents"))
    tagged = docs.withColumn("lang_pred", lang_pred_col(F.col("text")))
    rates = {"en": 0.25, "de": 0.8, "fr": 0.8, "es": 0.8, "und": 0.05}
    out = stratified_sample(tagged, rates, strata_col="lang_pred",
                            key_col="doc_id")
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      "lang_pred")


def _o_stratified_sample(_: str) -> str:
    # mirrors lang_id's stopword-vote argmax, then the md5-threshold
    # sample: uniform = first 8 md5 hex chars / 2^32 < rate[lang]
    from serd_spark.operators.text import LANG_STOPWORDS

    scores = {
        lang: " + ".join(
            f"len(regexp_extract_all(text, '\\b{w}\\b'))"
            for w in words)
        for lang, words in LANG_STOPWORDS.items()
    }
    score_cols = ",\n".join(
        f"({expr}) AS score_{lang}" for lang, expr in sorted(scores.items()))
    best = "GREATEST(" + ", ".join(
        f"score_{lang}" for lang in sorted(LANG_STOPWORDS)) + ")"
    pred = "'und'"
    for lang in sorted(LANG_STOPWORDS, reverse=True):
        pred = f"CASE WHEN score_{lang} = best THEN '{lang}' ELSE {pred} END"
    rates_sql = ", ".join(
        f"('{k}', {v})" for k, v in sorted(
            {"en": 0.25, "de": 0.8, "fr": 0.8, "es": 0.8,
             "und": 0.05}.items()))
    return f"""
    WITH scored AS (
        SELECT doc_id, text, {score_cols} FROM documents),
    best AS (
        SELECT *, {best} AS best FROM scored),
    pred AS (
        SELECT doc_id,
               CASE WHEN best = 0 THEN 'und' ELSE {pred} END AS lang_pred
        FROM best),
    rates(lang_pred, rate) AS (VALUES {rates_sql})
    SELECT CAST(p.doc_id AS BIGINT) AS doc_id, p.lang_pred
    FROM pred p JOIN rates r USING (lang_pred)
    WHERE ('0x' || substr(md5(CAST(p.doc_id AS VARCHAR)), 1, 8))::BIGINT
          / 4294967296.0 < r.rate
    """


def _q_stratified_take(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quota mixing: exactly-N-per-language sample (counts, not
    rates), lang_pred composed inline on one scan."""
    from serd_spark.operators.text import lang_pred_col, stratified_take
    from serd_spark.operators.util import spread

    # spread before composing lang_pred — see _q_stratified_sample
    docs = spread(_t(spark, sf_dir, "documents"))
    tagged = docs.withColumn("lang_pred", lang_pred_col(F.col("text")))
    counts = {"en": 60, "de": 40, "fr": 40, "es": 40}
    out = stratified_take(tagged, counts, strata_col="lang_pred",
                          key_col="doc_id")
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      "lang_pred")


def _o_stratified_take(_: str) -> str:
    from serd_spark.operators.text import LANG_STOPWORDS

    scores = {
        lang: " + ".join(
            f"len(regexp_extract_all(text, '\\b{w}\\b'))"
            for w in words)
        for lang, words in LANG_STOPWORDS.items()
    }
    score_cols = ",\n".join(
        f"({expr}) AS score_{lang}" for lang, expr in sorted(scores.items()))
    best = "GREATEST(" + ", ".join(
        f"score_{lang}" for lang in sorted(LANG_STOPWORDS)) + ")"
    pred = "'und'"
    for lang in sorted(LANG_STOPWORDS, reverse=True):
        pred = f"CASE WHEN score_{lang} = best THEN '{lang}' ELSE {pred} END"
    counts_sql = ", ".join(
        f"('{k}', {v})" for k, v in sorted(
            {"en": 60, "de": 40, "fr": 40, "es": 40}.items()))
    return f"""
    WITH scored AS (
        SELECT doc_id, text, {score_cols} FROM documents),
    best AS (SELECT *, {best} AS best FROM scored),
    pred AS (
        SELECT doc_id,
               CASE WHEN best = 0 THEN 'und' ELSE {pred} END AS lang_pred
        FROM best),
    quotas(lang_pred, n_take) AS (VALUES {counts_sql}),
    ranked AS (
        SELECT p.doc_id, p.lang_pred, q.n_take,
               ROW_NUMBER() OVER (
                   PARTITION BY p.lang_pred
                   ORDER BY ('0x' || substr(md5(CAST(p.doc_id AS VARCHAR)),
                                            1, 8))::BIGINT ASC,
                            p.doc_id ASC) AS rk
        FROM pred p JOIN quotas q USING (lang_pred))
    SELECT CAST(doc_id AS BIGINT) AS doc_id, lang_pred
    FROM ranked WHERE rk <= n_take
    """


def _q_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.text import doc_length_profile

    return doc_length_profile(_t(spark, sf_dir, "documents"))


def _o_doc_profile(_: str) -> str:
    # langid-mirror CTE + exact quantile_cont (same linear
    # interpolation as Spark's percentile())
    from serd_spark.operators.text import LANG_STOPWORDS

    scores = {
        lang: " + ".join(
            f"len(regexp_extract_all(text, '\\b{w}\\b'))"
            for w in words)
        for lang, words in LANG_STOPWORDS.items()
    }
    score_cols = ",\n".join(
        f"({expr}) AS score_{lang}" for lang, expr in sorted(scores.items()))
    best = "GREATEST(" + ", ".join(
        f"score_{lang}" for lang in sorted(LANG_STOPWORDS)) + ")"
    pred = "'und'"
    for lang in sorted(LANG_STOPWORDS, reverse=True):
        pred = f"CASE WHEN score_{lang} = best THEN '{lang}' ELSE {pred} END"
    cols = []
    for name, expr in (("chars", "len(text)::DOUBLE"),
                       ("toks", "len(string_split_regex(trim(text), "
                                "'\\s+'))::DOUBLE")):
        for p in (50, 90, 99):
            cols.append(f"ROUND(quantile_cont({expr}, {p / 100}), 6) "
                        f"AS {name}_p{p}")
        cols.append(f"ROUND(AVG({expr}), 6) AS {name}_mean")
        cols.append(f"CAST(MIN({expr}) AS BIGINT) AS {name}_min")
        cols.append(f"CAST(MAX({expr}) AS BIGINT) AS {name}_max")
    cols_sql = ",\n           ".join(cols)
    return f"""
    WITH scored AS (
        SELECT doc_id, text, {score_cols} FROM documents),
    best AS (SELECT *, {best} AS best FROM scored),
    pred AS (
        SELECT doc_id, text,
               CASE WHEN best = 0 THEN 'und' ELSE {pred} END AS lang_pred
        FROM best)
    SELECT lang_pred, COUNT(*) AS n_docs,
           {cols_sql}
    FROM pred GROUP BY lang_pred
    """


def _q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.text import repetition_features

    return repetition_features(_t(spark, sf_dir, "documents"))


def _o_repetition(_: str) -> str:
    def dup(k: int) -> str:
        return f"""
        CASE WHEN len(w) >= {k} THEN
            ROUND(1 - len(list_distinct(list_transform(
                      range(1, len(w) - {k - 2}),
                      i -> {" || ' ' || ".join(f"w[i+{j}]" for j in range(k))})))
                    / (len(w) - {k - 1})::DOUBLE, 6)
        ELSE 0.0 END AS dup_{k}gram_frac"""

    return f"""
    WITH base AS (
        SELECT doc_id,
               string_split_regex(trim(lower(text)), '\\s+') AS w,
               list_filter(string_split(text, chr(10)),
                           x -> trim(x) <> '') AS lines
        FROM documents)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           {dup(2)},
           {dup(3)},
           CASE WHEN len(lines) > 0 THEN
               ROUND(1 - len(list_distinct(lines))
                       / len(lines)::DOUBLE, 6)
           ELSE 0.0 END AS dup_line_frac
    FROM base
    """


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.text import pii_scrub

    return pii_scrub(_t(spark, sf_dir, "documents"))


def _o_pii_scrub(_: str) -> str:
    from serd_spark.operators.text import PII_PATTERNS

    counts = ",\n".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) "
        f"AS n_{name}"
        for name, pat, _ in PII_PATTERNS)
    scrubbed = "text"
    for _, pat, repl in PII_PATTERNS:
        scrubbed = f"regexp_replace({scrubbed}, '{pat}', '{repl}', 'g')"
    return f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           {counts},
           {scrubbed} AS scrubbed
    FROM documents
    """


def _q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.dedup import exact_dedup_keep_best

    # fused path: hash + quality score in one projection, one scan,
    # one shuffle (the window) — no doc_id join
    return exact_dedup_keep_best(_t(spark, sf_dir, "documents"))


def _o_dedup_keep_best(_: str) -> str:
    # mirrors quality_features' score, then argmax per content hash
    from serd_spark.operators.text import STOPWORDS_EN

    stop_hits = " + ".join(
        f"len(regexp_extract_all(lower(text), '\\b{w}\\b'))"
        for w in STOPWORDS_EN)
    return f"""
    WITH q AS (
        SELECT doc_id, md5(text) AS content_hash,
               ROUND(
                 LEAST(1.0, len(string_split_regex(trim(text), '\\s+'))
                            / 64.0) * 0.4
                 + LEAST(1.0, ROUND(({stop_hits})
                     / GREATEST(len(string_split_regex(trim(text),
                                                       '\\s+')), 1)::DOUBLE,
                     6) * 4.0) * 0.4
                 + CASE WHEN ROUND(
                       len(regexp_extract_all(text,
                           '[.,;:!?''\"()\\[\\]{{}}]'))
                       / GREATEST(len(text), 1)::DOUBLE, 6) < 0.1
                   THEN 0.2 ELSE 0.0 END, 6) AS quality_score
        FROM documents),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY content_hash
            ORDER BY quality_score DESC, doc_id ASC) AS rn
        FROM q)
    SELECT content_hash, CAST(doc_id AS BIGINT) AS rep_doc_id,
           quality_score
    FROM ranked WHERE rn = 1
    """


def _q_asof_attrib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution as-of join: each purchase picks up the latest
    preceding click by the same user (backward ASOF)."""
    from pyspark.sql import Window

    from serd_spark.operators.sessions import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase") \
        .select("event_id", "ts", "user_id")
    # deterministic tie-break: one click per (user, ts), max event_id
    wc = Window.partitionBy("user_id", "ts") \
        .orderBy(F.col("event_id").desc())
    clicks = (
        ev.where(F.col("event_type") == "click")
        .withColumn("_rn", F.row_number().over(wc))
        .where(F.col("_rn") <= 1)
        .select("user_id", "ts", "event_id", "value")
    )
    j = asof_join(purchases, clicks, by="user_id", ts_col="ts",
                  right_cols=("event_id", "value"))
    # NTZ → TIMESTAMP → double (UTC session): naive-epoch seconds.
    # No-match rows keep -1 sentinels (hashable across engines).
    ep = lambda c: F.round(F.col(c).cast("timestamp").cast("double"), 6)
    return j.select(
        F.col("event_id").cast("long").alias("event_id"),
        ep("ts").alias("p_ep"),
        F.col("user_id").cast("long").alias("user_id"),
        F.coalesce(F.col("event_id_r").cast("long"), F.lit(-1))
        .alias("click_id"),
        F.coalesce(ep("ts_r"), F.lit(-1.0)).alias("click_ep"),
        F.coalesce(F.round("value_r", 6), F.lit(-1.0))
        .alias("click_value"),
    )


def _o_asof_attrib(_: str) -> str:
    return """
    WITH p AS (
        SELECT event_id, ts, user_id FROM events
        WHERE event_type = 'purchase'),
    c0 AS (
        SELECT user_id, ts, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'click'),
    c AS (SELECT user_id, ts, event_id, value FROM c0 WHERE rn = 1)
    SELECT CAST(p.event_id AS BIGINT) AS event_id,
           ROUND(epoch(p.ts), 6) AS p_ep,
           CAST(p.user_id AS BIGINT) AS user_id,
           COALESCE(CAST(c.event_id AS BIGINT), -1) AS click_id,
           COALESCE(ROUND(epoch(c.ts), 6), -1.0) AS click_ep,
           COALESCE(ROUND(c.value, 6), -1.0) AS click_value
    FROM p ASOF LEFT JOIN c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recomputes LSH pairs inline ONLY for oracle isolation (each
    contract query must be self-contained).  The round-2 pipeline
    materializes minhash_lsh_pairs once via write_checkpoint and feeds
    both ngram_jaccard and dup_clusters from read_checkpoint —
    ``dup_clusters(pairs)`` takes the pair table as its argument for
    exactly this reuse (test:
    test_lsh_pairs_checkpoint_serves_both_consumers)."""
    from serd_spark.operators.dedup import dup_clusters, minhash_lsh_pairs

    pairs = minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), n_bands=4, shingle_k=3,
        max_bucket=64)
    return dup_clusters(pairs)


def _o_dedup_clusters(_: str) -> str:
    # connected components of the LSH pair graph via recursive CTE:
    # cluster_id = min doc_id reachable from each node
    return """
    WITH RECURSIVE words AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
        FROM documents),
    shingles AS (
        SELECT doc_id, unnest(
            CASE WHEN len(w) >= 3 THEN
                list_transform(range(1, len(w)-1),
                               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
            ELSE [] END) AS shingle
        FROM words),
    mh AS (
        SELECT doc_id, band,
               MIN(md5(shingle || '#' || band)) AS minhash
        FROM shingles, (SELECT unnest(range(0,4)) AS band)
        GROUP BY doc_id, band),
    sized AS (
        SELECT *, COUNT(*) OVER (PARTITION BY band, minhash) AS bucket_n
        FROM mh),
    pairs AS (
        SELECT DISTINCT CAST(a.doc_id AS BIGINT) AS doc_a,
                        CAST(b.doc_id AS BIGINT) AS doc_b
        FROM sized a JOIN sized b
          ON a.band = b.band AND a.minhash = b.minhash
         AND a.doc_id < b.doc_id
        WHERE a.bucket_n <= 64 AND b.bucket_n <= 64),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs),
    reach(u, v) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
    SELECT u AS doc_id, MIN(v) AS cluster_id
    FROM reach GROUP BY u
    """


# shared CTE prefix: the LSH candidate-pair graph (mirrors
# minhash_lsh_pairs at n_bands=4, shingle_k=3, max_bucket=64)
_LSH_PAIRS_CTE = """
    words AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
        FROM documents),
    shingles AS (
        SELECT doc_id, unnest(
            CASE WHEN len(w) >= 3 THEN
                list_transform(range(1, len(w)-1),
                               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
            ELSE [] END) AS shingle
        FROM words),
    mh AS (
        SELECT doc_id, band,
               MIN(md5(shingle || '#' || band)) AS minhash
        FROM shingles, (SELECT unnest(range(0,4)) AS band)
        GROUP BY doc_id, band),
    sized AS (
        SELECT *, COUNT(*) OVER (PARTITION BY band, minhash) AS bucket_n
        FROM mh),
    pairs AS (
        SELECT DISTINCT CAST(a.doc_id AS BIGINT) AS doc_a,
                        CAST(b.doc_id AS BIGINT) AS doc_b
        FROM sized a JOIN sized b
          ON a.band = b.band AND a.minhash = b.minhash
         AND a.doc_id < b.doc_id
        WHERE a.bucket_n <= 64 AND b.bucket_n <= 64),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs)
"""


def _q_cluster_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH pairs → connected components → best-quality representative
    per cluster: the shipped dedup composition, hash-gated end to end
    (recursive-CTE CC + quality argmax in the oracle)."""
    from serd_spark.operators.dedup import (
        cluster_representatives,
        minhash_lsh_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, n_bands=4, shingle_k=3,
                              max_bucket=64)
    return cluster_representatives(docs, pairs)


def _o_cluster_reps(_: str) -> str:
    stop = ["the", "and", "of", "to", "is", "a", "in", "it", "for", "on"]
    hits = " + ".join(
        f"len(regexp_extract_all(lower(text), '\\b{w}\\b'))" for w in stop)
    qs = f"""ROUND(
        LEAST(1.0, len(string_split_regex(trim(text), '\\s+')) / 64.0)
            * 0.4
        + LEAST(1.0, ROUND(({hits})
            / GREATEST(len(string_split_regex(trim(text), '\\s+')), 1),
            6) * 4.0) * 0.4
        + CASE WHEN ROUND(len(regexp_extract_all(text, '[.,!?;:]'))
                          / GREATEST(length(text), 1), 6) < 0.1
               THEN 0.2 ELSE 0.0 END, 6)"""
    return f"""
    WITH RECURSIVE {_LSH_PAIRS_CTE},
    reach(u, v) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
    cc AS (SELECT u AS doc_id, MIN(v) AS cluster_id
           FROM reach GROUP BY u),
    q AS (SELECT doc_id, {qs} AS quality_score FROM documents),
    j AS (SELECT cc.cluster_id, cc.doc_id, q.quality_score
          FROM cc JOIN q USING (doc_id)),
    r AS (SELECT *,
                 ROW_NUMBER() OVER (PARTITION BY cluster_id
                                    ORDER BY quality_score DESC,
                                             doc_id ASC) AS rn,
                 COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
          FROM j)
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(doc_id AS BIGINT) AS rep_doc_id,
           quality_score,
           CAST(n_members AS BIGINT) AS n_members
    FROM r WHERE rn = 1
    """


def _q_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.dedup import minhash_lsh_pairs
    from serd_spark.operators.graph import degree_stats

    pairs = minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), n_bands=4, shingle_k=3,
        max_bucket=64)
    return degree_stats(pairs)


def _o_graph_degrees(_: str) -> str:
    return f"""
    WITH {_LSH_PAIRS_CTE},
    deg AS (SELECT u, COUNT(*) AS degree FROM edges GROUP BY u)
    SELECT CAST(degree AS BIGINT) AS degree,
           COUNT(*) AS n_nodes
    FROM deg GROUP BY degree
    """


def _q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the LSH pair graph — the
    iterative-analytics twin of dedup_clusters, with an EXACT oracle
    (the SQL unrolls the same 5 power-iteration rounds)."""
    from serd_spark.operators.dedup import minhash_lsh_pairs
    from serd_spark.operators.graph import pagerank

    pairs = minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), n_bands=4, shingle_k=3,
        max_bucket=64)
    return pagerank(pairs, n_iter=5)


def _o_pagerank(_: str) -> str:
    n_iter, damping = 5, 0.85
    ctes = ["nodes AS (SELECT DISTINCT u FROM edges)",
            "nn AS (SELECT COUNT(*) AS c FROM nodes)",
            "od AS (SELECT u, COUNT(*) AS od FROM edges GROUP BY u)",
            "r0 AS (SELECT u, 1.0/(SELECT c FROM nn) AS r FROM nodes)"]
    for k in range(1, n_iter + 1):
        ctes.append(f"""r{k} AS (
        SELECT n.u,
               {1.0 - damping}/(SELECT c FROM nn)
               + {damping}*COALESCE(s.in_sum, 0) AS r
        FROM nodes n LEFT JOIN (
            SELECT e.v AS u, SUM(r.r/od.od) AS in_sum
            FROM edges e
            JOIN r{k - 1} r ON e.u = r.u
            JOIN od ON e.u = od.u
            GROUP BY e.v) s ON n.u = s.u)""")
    chained = ",\n    ".join(ctes)
    return f"""
    WITH {_LSH_PAIRS_CTE},
    {chained}
    SELECT u AS doc_id,
           FLOOR(ROUND(ROUND(r, 6) * 1000000, 0) / 100) / 10000.0 AS rank
    FROM r{n_iter}
    """


def _q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label propagation over the LSH pair
    graph — integer-exact iterative analytics (no float grain at
    all), the soft-community complement of dedup_clusters' CC."""
    from serd_spark.operators.dedup import minhash_lsh_pairs
    from serd_spark.operators.graph import label_propagation

    pairs = minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), n_bands=4, shingle_k=3,
        max_bucket=64)
    return label_propagation(pairs, n_rounds=3)


def _o_lpa_communities(_: str) -> str:
    n_rounds = 3
    ctes = ["l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM edges)"]
    for k in range(1, n_rounds + 1):
        ctes.append(f"""nl{k} AS (
        SELECT e.u, l.lbl FROM edges e
        JOIN l{k - 1} l ON e.v = l.node)""")
        ctes.append(f"""c{k} AS (
        SELECT u, lbl, COUNT(*) AS c FROM nl{k} GROUP BY u, lbl)""")
        ctes.append(f"""l{k} AS (
        SELECT u AS node, lbl FROM (
            SELECT u, lbl,
                   ROW_NUMBER() OVER (PARTITION BY u
                                      ORDER BY c DESC, lbl ASC) AS rn
            FROM c{k})
        WHERE rn = 1)""")
    return f"""
    WITH {_LSH_PAIRS_CTE},
    {','.join(ctes)}
    SELECT CAST(node AS BIGINT) AS doc_id,
           CAST(lbl AS BIGINT) AS label
    FROM l{n_rounds}
    """


def _q_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf-idf-weighted cosine verify over the LSH candidate pairs —
    the weighted complement of ngram_jaccard (rare shared terms
    dominate; boilerplate idf≈0 terms stop inflating similarity)."""
    from serd_spark.operators.dedup import (
        minhash_lsh_pairs,
        tfidf_cosine_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, n_bands=4, shingle_k=3,
                              max_bucket=64)
    return tfidf_cosine_pairs(docs, pairs)


def _o_tfidf_cosine(_: str) -> str:
    return f"""
    WITH {_LSH_PAIRS_CTE},
    ttoks AS (
        SELECT doc_id, tok FROM (
            SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)),
                                             '\\s+')) AS tok
            FROM documents)
        WHERE tok <> ''),
    ttf AS (
        SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
        FROM ttoks GROUP BY doc_id, tok),
    tdf AS (SELECT tok, COUNT(*) AS df FROM ttf GROUP BY tok),
    tn AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n
           FROM documents),
    tw AS (
        SELECT t.doc_id, t.tok,
               t.tf * ln((SELECT n FROM tn) / d.df) AS w
        FROM ttf t JOIN tdf d ON t.tok = d.tok),
    tnorm AS (
        SELECT doc_id, sqrt(SUM(w * w)) AS nrm
        FROM tw GROUP BY doc_id),
    tdot AS (
        SELECT p.doc_a, p.doc_b, SUM(a.w * b.w) AS dot
        FROM pairs p
        JOIN tw a ON a.doc_id = p.doc_a
        JOIN tw b ON b.doc_id = p.doc_b AND b.tok = a.tok
        GROUP BY p.doc_a, p.doc_b)
    SELECT d.doc_a, d.doc_b,
           ROUND(d.dot / (na.nrm * nb.nrm), 6) AS cosine
    FROM tdot d
    JOIN tnorm na ON d.doc_a = na.doc_id
    JOIN tnorm nb ON d.doc_b = nb.doc_id
    WHERE na.nrm > 0 AND nb.nrm > 0
    """


def _q_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity join (PPJoin-style prefix filtering) —
    completeness-guaranteed token-Jaccard pairs, the deterministic
    complement of the probabilistic minhash_lsh candidates.  Runs on
    the doc_id %% 13 == 0 slice: the synthetic corpus is template-
    heavy (~3M genuine pairs at tau 0.8 over full sf0.1 — the exact
    join's cost is output-bound), so the contract row gates the
    algorithm on a deterministic subset both engines select."""
    from serd_spark.operators.dedup import prefix_filter_pairs

    docs = _t(spark, sf_dir, "documents") \
        .where(F.col("doc_id") % 13 == 0)
    return prefix_filter_pairs(docs, tau=0.8)


def _o_prefix_jaccard(_: str) -> str:
    return """
    WITH ptoks AS (
        SELECT DISTINCT doc_id, tok FROM (
            SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)),
                                             '\\s+')) AS tok
            FROM documents WHERE doc_id % 13 = 0)
        WHERE tok <> ''),
    pdf AS (SELECT tok, COUNT(*) AS df FROM ptoks GROUP BY tok),
    psz AS (SELECT doc_id, COUNT(*) AS n FROM ptoks GROUP BY doc_id),
    ranked AS (
        SELECT t.doc_id, t.tok,
               ROW_NUMBER() OVER (PARTITION BY t.doc_id
                                  ORDER BY d.df ASC, t.tok ASC) AS rn
        FROM ptoks t JOIN pdf d ON t.tok = d.tok),
    pref AS (
        SELECT r.doc_id, r.tok
        FROM ranked r JOIN psz s ON r.doc_id = s.doc_id
        WHERE r.rn <= s.n - CAST(CEIL(0.8 * s.n) AS BIGINT) + 1),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM pref a JOIN pref b
          ON a.tok = b.tok AND a.doc_id < b.doc_id),
    shared AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS ns
        FROM cand c
        JOIN ptoks ta ON ta.doc_id = c.doc_a
        JOIN ptoks tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
        GROUP BY c.doc_a, c.doc_b)
    SELECT CAST(s.doc_a AS BIGINT) AS doc_a,
           CAST(s.doc_b AS BIGINT) AS doc_b,
           ROUND(s.ns / (sa.n + sb.n - s.ns), 6) AS jaccard
    FROM shared s
    JOIN psz sa ON s.doc_a = sa.doc_id
    JOIN psz sb ON s.doc_b = sb.doc_id
    WHERE ROUND(s.ns / (sa.n + sb.n - s.ns), 6) >= 0.8
    """


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, n_bands=4, shingle_k=3, max_bucket=64)
    return ngram_jaccard(docs, pairs, shingle_k=3)


def _o_ngram_jaccard(_: str) -> str:
    return """
    WITH words AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
        FROM documents),
    shingles AS (
        SELECT DISTINCT doc_id, unnest(
            CASE WHEN len(w) >= 3 THEN
                list_transform(range(1, len(w)-1),
                               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
            ELSE [] END) AS shingle
        FROM words),
    mh AS (
        SELECT doc_id, band,
               MIN(md5(shingle || '#' || band)) AS minhash
        FROM (SELECT doc_id, shingle FROM shingles) s,
             (SELECT unnest(range(0,4)) AS band)
        GROUP BY doc_id, band),
    sized AS (
        SELECT *, COUNT(*) OVER (PARTITION BY band, minhash) AS bucket_n
        FROM mh),
    pairs AS (
        SELECT DISTINCT CAST(a.doc_id AS BIGINT) AS doc_a,
                        CAST(b.doc_id AS BIGINT) AS doc_b
        FROM sized a JOIN sized b
          ON a.band = b.band AND a.minhash = b.minhash
         AND a.doc_id < b.doc_id
        WHERE a.bucket_n <= 64 AND b.bucket_n <= 64),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
        FROM pairs p
        JOIN shingles sa ON sa.doc_id = p.doc_a
        JOIN shingles sb ON sb.doc_id = p.doc_b
                        AND sb.shingle = sa.shingle
        GROUP BY p.doc_a, p.doc_b)
    SELECT i.doc_a, i.doc_b, CAST(i.n_inter AS BIGINT) AS n_inter,
           ROUND(i.n_inter / (za.n_sh + zb.n_sh - i.n_inter), 6) AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.doc_a
    JOIN sizes zb ON zb.doc_id = i.doc_b
    """


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.dedup import simhash

    # spread_input=False: this row's count() prunes the vote
    # aggregates, so the repartition would be pure overhead
    return simhash(_t(spark, sf_dir, "documents"), spread_input=False)


def _simhash_ctes() -> str:
    """Shared CTE chain ending in sigs(doc_id, simhash) — the SQL
    mirror of dedup.simhash, reused by the pairs oracle."""
    def bit(i: int) -> str:
        return (f"(h_lo >> {i}) & 1" if i < 32
                else f"(h_hi >> {i - 32}) & 1")

    bit_sums = ",\n".join(
        f"SUM(CASE WHEN {bit(i)} = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(64))
    bits = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN "
        + ("(-9223372036854775807::BIGINT - 1)" if i == 63
           else f"{1 << i}::BIGINT")
        + " ELSE 0 END)"
        for i in range(64))
    return f"""toks AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        FROM documents),
    h AS (
        SELECT doc_id,
               ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h_hi,
               ('0x' || substr(md5(tok), 9, 8))::BIGINT AS h_lo
        FROM toks),
    votes AS (
        SELECT doc_id, {bit_sums}
        FROM h GROUP BY doc_id),
    sigs AS (
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST({bits} AS BIGINT) AS simhash
        FROM votes)"""


def _o_simhash(_: str) -> str:
    return f"""
    WITH {_simhash_ctes()}
    SELECT doc_id, simhash FROM sigs
    """


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charikar banded SimHash near-dup pairs: 16-bit band bucketing
    (pigeonhole-exact for hamming <= 3) + bit_count(xor) verify —
    the bit-parallel complement of minhash_lsh."""
    from serd_spark.operators.dedup import simhash_pairs

    return simhash_pairs(_t(spark, sf_dir, "documents"),
                         max_hamming=3, max_bucket=64)


def _o_simhash_pairs(_: str) -> str:
    band_rows = "\nUNION ALL\n".join(
        f"SELECT doc_id, simhash, {i} AS band_idx,"
        f" (simhash >> {16 * i}) & 65535 AS band_val FROM sigs"
        for i in range(4))
    return f"""
    WITH {_simhash_ctes()},
    bands AS ({band_rows}),
    ok AS (
        SELECT band_idx, band_val FROM bands
        GROUP BY band_idx, band_val HAVING COUNT(*) <= 64),
    rare AS (
        SELECT b.* FROM bands b
        JOIN ok ON b.band_idx = ok.band_idx
               AND b.band_val = ok.band_val),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS sa, b.simhash AS sb
        FROM rare a
        JOIN rare b ON a.band_idx = b.band_idx
                   AND a.band_val = b.band_val
        WHERE a.doc_id < b.doc_id)
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(sa, sb)) <= 3
    """


def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return cosine_topk(emb, queries, k=10)


def _o_cosine_topk(_: str) -> str:
    return """
    WITH q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < 5),
    sims AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               ROUND(list_dot_product(e.embedding::DOUBLE[], q.qv)
                     / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                              e.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(q.qv, q.qv))), 6) AS sim
        FROM embeddings e, q WHERE e.vec_id <> q.query_id),
    ranked AS (
        SELECT *, CAST(ROW_NUMBER() OVER (
            PARTITION BY query_id
            ORDER BY sim DESC, neighbor_id ASC) AS BIGINT) AS rank
        FROM sims)
    SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= 10
    """


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.text import quality_features

    return quality_features(_t(spark, sf_dir, "documents"))


def _o_quality(_: str) -> str:
    stop = ["the", "and", "of", "to", "is", "a", "in", "it", "for", "on"]
    hits = " + ".join(
        f"len(regexp_extract_all(lower(text), '\\b{w}\\b'))" for w in stop)
    return f"""
    SELECT doc_id,
      CAST(length(text) AS BIGINT) AS n_chars,
      CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
          AS n_tokens,
      CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS n_punct,
      ROUND(len(regexp_extract_all(text, '[.,!?;:]'))
            / GREATEST(length(text), 1), 6) AS punct_ratio,
      ROUND(({hits})
            / GREATEST(len(string_split_regex(trim(text), '\\s+')), 1), 6)
          AS stop_ratio,
      ROUND(length(text)
            / GREATEST(len(string_split_regex(trim(text), '\\s+')), 1), 6)
          AS mean_tok_len,
      ROUND(
        LEAST(1.0, len(string_split_regex(trim(text), '\\s+')) / 64.0) * 0.4
        + LEAST(1.0, ROUND(({hits})
            / GREATEST(len(string_split_regex(trim(text), '\\s+')), 1), 6)
            * 4.0) * 0.4
        + CASE WHEN ROUND(len(regexp_extract_all(text, '[.,!?;:]'))
                          / GREATEST(length(text), 1), 6) < 0.1
               THEN 0.2 ELSE 0.0 END, 6) AS quality_score
    FROM documents
    """


def _q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.text import lang_id

    return lang_id(_t(spark, sf_dir, "documents"))


def _o_langid(_: str) -> str:
    from serd_spark.operators.text import LANG_STOPWORDS

    scores = {
        lang: " + ".join(
            f"len(regexp_extract_all(lower(text), '\\b{w}\\b'))"
            for w in words)
        for lang, words in LANG_STOPWORDS.items()
    }
    score_cols = ",\n".join(
        f"CAST({scores[lang]} AS BIGINT) AS score_{lang}"
        for lang in sorted(LANG_STOPWORDS))
    best = "GREATEST(" + ", ".join(
        f"score_{la}" for la in sorted(LANG_STOPWORDS)) + ")"
    case = " ".join(
        f"WHEN score_{la} = {best} THEN '{la}'"
        for la in sorted(LANG_STOPWORDS))
    return f"""
    WITH s AS (SELECT doc_id, {score_cols} FROM documents)
    SELECT doc_id, score_de, score_en, score_es, score_fr,
           CASE WHEN {best} = 0 THEN 'und' {case} ELSE 'und' END
               AS lang_pred
    FROM s
    """


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.text import fingerprint

    return fingerprint(_t(spark, sf_dir, "documents"))


def _o_fingerprint(_: str) -> str:
    return """
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
               AS fingerprint,
           CAST(length(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                AS BIGINT) AS norm_len
    FROM documents
    """


def _q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.text import (
        bpe_token_count_col,
        token_count_col,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count_col(F.col("text")).cast("long").alias("ws_tokens"),
        bpe_token_count_col(F.col("text")).cast("long").alias("bpe_tokens"),
    )


def _o_token_counts(_: str) -> str:
    return """
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
               AS ws_tokens,
           CAST(len(regexp_extract_all(
               text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
               AS bpe_tokens
    FROM documents
    """


def _q_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed FineWeb-style quality gate: language + quality +
    repetition + PII predicates fused into one corpus scan."""
    from serd_spark.operators.text import clean_corpus

    return clean_corpus(_t(spark, sf_dir, "documents"))


def _o_clean_corpus(_: str) -> str:
    return f"""
    WITH {_clean_corpus_ctes()}
    SELECT CAST(doc_id AS BIGINT) AS doc_id, lang_pred, quality_score,
           dup_2gram_frac, n_email
    FROM feat
    WHERE lang_pred = 'en' AND quality_score >= 0.5
      AND dup_2gram_frac < 0.5 AND n_email = 0
    """


def _clean_corpus_ctes() -> str:
    """CTE chain ending in feat(doc_id, lang_pred, quality_score,
    dup_2gram_frac, n_email) — the SQL mirror of the fused
    clean_corpus Column builders, shared with the curation-pipeline
    oracle."""
    from serd_spark.operators.text import (
        LANG_STOPWORDS,
        PII_PATTERNS,
        STOPWORDS_EN,
    )

    scores = {
        lang: " + ".join(
            f"len(regexp_extract_all(lower(text), '\\b{w}\\b'))"
            for w in words)
        for lang, words in LANG_STOPWORDS.items()
    }
    score_cols = ",\n".join(
        f"({expr}) AS score_{lang}" for lang, expr in sorted(scores.items()))
    best = "GREATEST(" + ", ".join(
        f"score_{la}" for la in sorted(LANG_STOPWORDS)) + ")"
    pred = "'und'"
    for lang in sorted(LANG_STOPWORDS, reverse=True):
        pred = f"CASE WHEN score_{lang} = best THEN '{lang}' ELSE {pred} END"
    stop_hits = " + ".join(
        f"len(regexp_extract_all(lower(text), '\\b{w}\\b'))"
        for w in STOPWORDS_EN)
    ntok = "len(string_split_regex(trim(text), '\\s+'))"
    quality = f"""ROUND(
        LEAST(1.0, {ntok} / 64.0) * 0.4
        + LEAST(1.0, ROUND(({stop_hits}) / GREATEST({ntok}, 1), 6)
                * 4.0) * 0.4
        + CASE WHEN ROUND(len(regexp_extract_all(text, '[.,!?;:]'))
                          / GREATEST(length(text), 1), 6) < 0.1
               THEN 0.2 ELSE 0.0 END, 6)"""
    dup2 = """CASE WHEN len(w) >= 2 THEN
        ROUND(1 - len(list_distinct(list_transform(
                  range(1, len(w)), i -> w[i] || ' ' || w[i+1])))
                / (len(w) - 1)::DOUBLE, 6)
        ELSE 0.0 END"""
    email = ("len(regexp_extract_all(text, '"
             + PII_PATTERNS[0][1] + "'))")
    return f"""s AS (
        SELECT doc_id, text,
               string_split_regex(trim(lower(text)), '\\s+') AS w,
               {score_cols}
        FROM documents),
    b AS (SELECT *, {best} AS best FROM s),
    feat AS (
        SELECT doc_id,
               CASE WHEN best = 0 THEN 'und' ELSE {pred} END AS lang_pred,
               {quality} AS quality_score,
               {dup2} AS dup_2gram_frac,
               CAST({email} AS BIGINT) AS n_email
        FROM b)"""


def _q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation job a real user runs end to end, under
    ONE exact gate: quality-gate the corpus (clean_corpus), drop
    exact duplicates keeping the min-id representative, and chunk the
    survivors into overlapping context windows — output (doc_id,
    n_dups, n_chunks) per surviving document.  The oracle recomputes
    every stage independently (feature CTEs + hash dedup + the
    integer window-count formula), so the row also cross-checks that
    sliding_chunks' actual row count equals its closed form."""
    from serd_spark.operators.dedup import exact_dedup
    from serd_spark.operators.packing import sliding_chunks
    from serd_spark.operators.text import clean_corpus

    docs = _t(spark, sf_dir, "documents")
    kept = docs.join(clean_corpus(docs).select("doc_id"), "doc_id")
    reps = exact_dedup(kept)
    surv = kept.join(
        reps.select(F.col("rep_doc_id").alias("doc_id"), "n_dups"),
        "doc_id")
    ch = sliding_chunks(surv, chunk_tokens=64, overlap=16) \
        .groupBy("doc_id") \
        .agg(F.count("*").cast("long").alias("n_chunks"))
    return (
        surv.select(F.col("doc_id").cast("long").alias("doc_id"),
                    "n_dups")
        .join(ch, "doc_id")
    )


def _o_curation_pipeline(_: str) -> str:
    return f"""
    WITH {_clean_corpus_ctes()},
    ckept AS (
        SELECT d.doc_id, d.text
        FROM documents d
        JOIN feat f ON d.doc_id = f.doc_id
        WHERE f.lang_pred = 'en' AND f.quality_score >= 0.5
          AND f.dup_2gram_frac < 0.5 AND f.n_email = 0),
    creps AS (
        SELECT md5(text) AS h, MIN(doc_id) AS rep,
               CAST(COUNT(*) AS BIGINT) AS n_dups
        FROM ckept GROUP BY md5(text)),
    csurv AS (
        SELECT k.doc_id, k.text, r.n_dups
        FROM ckept k JOIN creps r ON k.doc_id = r.rep)
    SELECT CAST(doc_id AS BIGINT) AS doc_id, n_dups,
           CAST(1 + FLOOR((GREATEST(
               len(string_split_regex(trim(text), '\\s+')) - 64, 0)
               + 47) / 48) AS BIGINT) AS n_chunks
    FROM csurv
    """


def _domain_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesized URL-bearing corpus from customer (documents.text
    carries no URLs): two domains per doc, ground truth known to the
    oracle by the same construction.  ONE definition — the ddocs CTE
    in _DOMAIN_SETS_CTES and every domain_* query must stay
    byte-identical with this builder."""
    cust = _t(spark, sf_dir, "customer")
    return cust.select(
        F.col("c_custkey").cast("long").alias("doc_id"),
        F.concat(
            F.lit("visit http://shop"), (F.col("c_custkey") % 50),
            F.lit(".example.com/item/"), "c_custkey",
            F.lit(" and http://cdn"), (F.col("c_custkey") % 7),
            F.lit(".example.org/a b"),
        ).alias("text"),
    )


def _q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain URL stats over a synthesized URL-bearing corpus
    (documents.text carries no URLs, so the corpus is constructed from
    customer — ground truth known to the oracle by the same
    construction)."""
    from serd_spark.operators.text import domain_stats

    docs = _domain_docs(spark, sf_dir)
    return domain_stats(docs)


def _o_domain_stats(_: str) -> str:
    return """
    WITH docs AS (
        SELECT c_custkey AS doc_id,
               'visit http://shop' || (c_custkey % 50)
               || '.example.com/item/' || c_custkey
               || ' and http://cdn' || (c_custkey % 7)
               || '.example.org/a b' AS text
        FROM customer),
    urls AS (
        SELECT doc_id,
               unnest(regexp_extract_all(
                   text, 'https?://[A-Za-z0-9.\\-]+(?:/[A-Za-z0-9._/\\-]*)?'))
                   AS url
        FROM docs)
    SELECT regexp_extract(url, 'https?://([A-Za-z0-9.\\-]+)', 1) AS domain,
           COUNT(*) AS n_urls,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM urls GROUP BY 1
    """


# shared CTEs: the synthesized URL corpus (same construction as
# domain_stats) reduced to per-doc DISTINCT domains with the
# link-farm cap — the base of the co-occurrence graph oracles
_DOMAIN_SETS_CTES = [
    """ddocs AS (
        SELECT c_custkey AS doc_id,
               'visit http://shop' || (c_custkey % 50)
               || '.example.com/item/' || c_custkey
               || ' and http://cdn' || (c_custkey % 7)
               || '.example.org/a b' AS text
        FROM customer)""",
    """durls AS (
        SELECT doc_id,
               unnest(regexp_extract_all(
                   text, 'https?://[A-Za-z0-9.\\-]+(?:/[A-Za-z0-9._/\\-]*)?'))
                   AS url
        FROM ddocs)""",
    """dsets AS (
        SELECT DISTINCT doc_id,
               regexp_extract(url, 'https?://([A-Za-z0-9.\\-]+)', 1)
                   AS domain
        FROM durls)""",
    """dok AS (
        SELECT doc_id FROM dsets GROUP BY doc_id
        HAVING COUNT(*) <= 32)""",
    """dcoocc AS (
        SELECT a.domain AS domain_a, b.domain AS domain_b,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM dsets a
        JOIN dsets b ON a.doc_id = b.doc_id
        JOIN dok ON a.doc_id = dok.doc_id
        WHERE a.domain < b.domain
        GROUP BY a.domain, b.domain)""",
]


def _q_domain_cograph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain co-link graph over the synthesized URL corpus: edges
    (domain_a, domain_b, n_docs) weighted by co-linking documents,
    with the link-farm cap on per-doc domain counts."""
    from serd_spark.operators.text import domain_cooccurrence

    docs = _domain_docs(spark, sf_dir)
    return domain_cooccurrence(docs, max_doc_domains=32)


def _o_domain_cograph(_: str) -> str:
    return f"""
    WITH {','.join(_DOMAIN_SETS_CTES)}
    SELECT domain_a, domain_b, n_docs FROM dcoocc
    """


def _q_domain_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain authority: weighted PageRank over the co-link graph —
    the second consumer of graph.pagerank_weighted, exercising the
    e-4 rank quantization on a bipartite-ish string-keyed graph."""
    from serd_spark.operators.graph import pagerank_weighted
    from serd_spark.operators.text import domain_cooccurrence

    docs = _domain_docs(spark, sf_dir)
    edges = domain_cooccurrence(docs, max_doc_domains=32)
    return pagerank_weighted(edges, n_iter=3, src="domain_a",
                             dst="domain_b", weight="n_docs")


def _o_domain_rank(_: str) -> str:
    return _o_weighted_rank_sql([
        *_DOMAIN_SETS_CTES,
        """ed0 AS (
        SELECT domain_a AS a, domain_b AS b,
               CAST(n_docs AS DOUBLE) AS w
        FROM dcoocc)""",
    ])


def _q_domain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist filtering over the synthesized URL corpus: drop docs
    linking any blocked domain (every 7th cdn shard + one shop)."""
    from serd_spark.operators.text import drop_blocked_domains

    docs = _domain_docs(spark, sf_dir)
    blocked = spark.createDataFrame(
        [("cdn3.example.org",), ("shop7.example.com",)],
        "domain string")
    return drop_blocked_domains(docs, blocked).select("doc_id")


def _o_domain_filter(_: str) -> str:
    return """
    SELECT CAST(c_custkey AS BIGINT) AS doc_id
    FROM customer
    WHERE c_custkey % 7 <> 3 AND c_custkey % 50 <> 7
    """


def _q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: train docs sharing >=1 3-shingle
    with the (deterministic) eval subset.  Eval shingles broadcast —
    map-side only, no corpus shuffle before the final doc_id agg."""
    from serd_spark.operators.dedup import contamination_flags

    docs = _t(spark, sf_dir, "documents")
    eval_docs = docs.where(F.col("doc_id") % 97 == 0)
    train = docs.where(F.col("doc_id") % 97 != 0)
    return contamination_flags(train, eval_docs).select(
        F.col("doc_id").cast("long").alias("doc_id"), "n_hits")


def _o_contamination(_: str) -> str:
    return """
    WITH sh AS (
        SELECT doc_id, unnest(
            CASE WHEN len(w) >= 3 THEN
                list_transform(range(1, len(w)-1),
                               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
            ELSE [] END) AS shingle
        FROM (SELECT doc_id,
                     string_split_regex(trim(text), '\\s+') AS w
              FROM documents)),
    ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
    tr AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE doc_id % 97 <> 0)
    SELECT CAST(tr.doc_id AS BIGINT) AS doc_id,
           COUNT(*) AS n_hits
    FROM tr JOIN ev USING (shingle)
    GROUP BY tr.doc_id
    """


def _q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing plan over the corpus (ctx 2048):
    global token prefix sum via the distributed two-pass scheme, then
    chunk ids — identical to the oracle's single SUM() OVER window."""
    from serd_spark.operators.packing import concat_chunk_plan

    return concat_chunk_plan(_t(spark, sf_dir, "documents"),
                             ctx_len=2048)


def _o_pack_chunks(_: str) -> str:
    return """
    WITH t AS (
        SELECT doc_id,
               CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                   AS n_tok
        FROM documents),
    c AS (
        SELECT doc_id, n_tok,
               SUM(n_tok) OVER (ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
        FROM t)
    SELECT CAST(doc_id AS BIGINT) AS doc_id, n_tok,
           CAST(cum - n_tok AS BIGINT) AS tok_start,
           CAST(FLOOR((cum - n_tok) / 2048.0) AS BIGINT) AS chunk_first,
           CAST(FLOOR((cum - 1) / 2048.0) AS BIGINT) AS chunk_last
    FROM c
    """


def _q_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix against the table's ground-truth
    lang column — the classifier-eval harness."""
    from serd_spark.operators.text import langid_confusion

    return langid_confusion(_t(spark, sf_dir, "documents"))


def _o_langid_eval(_: str) -> str:
    from serd_spark.operators.text import LANG_STOPWORDS

    scores = {
        lang: " + ".join(
            f"len(regexp_extract_all(lower(text), '\\b{w}\\b'))"
            for w in words)
        for lang, words in LANG_STOPWORDS.items()
    }
    score_cols = ",\n".join(
        f"CAST({scores[lang]} AS BIGINT) AS score_{lang}"
        for lang in sorted(LANG_STOPWORDS))
    best = "GREATEST(" + ", ".join(
        f"score_{la}" for la in sorted(LANG_STOPWORDS)) + ")"
    case = " ".join(
        f"WHEN score_{la} = {best} THEN '{la}'"
        for la in sorted(LANG_STOPWORDS))
    return f"""
    WITH s AS (SELECT lang AS lang_true, {score_cols} FROM documents),
    p AS (SELECT lang_true,
                 CASE WHEN {best} = 0 THEN 'und' {case} ELSE 'und' END
                     AS lang_pred
          FROM s)
    SELECT lang_true, lang_pred, COUNT(*) AS n
    FROM p GROUP BY lang_true, lang_pred
    """


def _q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.text import lm_bigram_score

    return lm_bigram_score(_t(spark, sf_dir, "documents"))


def _o_lm_score(_: str) -> str:
    return """
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+')
                   AS w
        FROM documents),
    uni AS (
        SELECT word, COUNT(*) AS c_w FROM (
            SELECT unnest(w) AS word FROM t)
        WHERE word <> '' GROUP BY word),
    v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v_sz FROM uni),
    bgs AS (
        SELECT doc_id, unnest(
            CASE WHEN len(w) >= 2 THEN
                list_transform(range(1, len(w)),
                               i -> w[i] || ' ' || w[i+1])
            ELSE [] END) AS bg
        FROM t),
    bc AS (SELECT bg, COUNT(*) AS c_ab FROM bgs GROUP BY bg),
    lp AS (
        SELECT d.doc_id,
               ln((c.c_ab + 1) / (u.c_w + v.v_sz)) AS lp
        FROM bgs d
        JOIN bc c USING (bg)
        JOIN uni u ON string_split(d.bg, ' ')[1] = u.word
        CROSS JOIN v)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           COUNT(*) AS n_bigrams,
           ROUND(AVG(lp), 6) AS lm_score
    FROM lp GROUP BY doc_id
    """


def _q_lm_heldout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True held-out LM scoring (the self-counting fix the lm_score
    docstring prescribes): the bigram model fits on the even-id
    split, the odd-id split is scored against it; bigrams/words the
    model never saw degrade to the add-one floor via LEFT joins."""
    from serd_spark.operators.text import lm_bigram_score

    docs = _t(spark, sf_dir, "documents")
    return lm_bigram_score(
        docs.where(F.col("doc_id") % 2 == 1),
        model_docs=docs.where(F.col("doc_id") % 2 == 0))


def _o_lm_heldout(_: str) -> str:
    return """
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+')
                   AS w
        FROM documents WHERE doc_id % 2 = 1),
    mt AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+')
                   AS w
        FROM documents WHERE doc_id % 2 = 0),
    uni AS (
        SELECT word, COUNT(*) AS c_w FROM (
            SELECT unnest(w) AS word FROM mt)
        WHERE word <> '' GROUP BY word),
    v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v_sz FROM uni),
    mbgs AS (
        SELECT unnest(
            CASE WHEN len(w) >= 2 THEN
                list_transform(range(1, len(w)),
                               i -> w[i] || ' ' || w[i+1])
            ELSE [] END) AS bg
        FROM mt),
    bc AS (SELECT bg, COUNT(*) AS c_ab FROM mbgs GROUP BY bg),
    bgs AS (
        SELECT doc_id, unnest(
            CASE WHEN len(w) >= 2 THEN
                list_transform(range(1, len(w)),
                               i -> w[i] || ' ' || w[i+1])
            ELSE [] END) AS bg
        FROM t),
    lp AS (
        SELECT d.doc_id,
               ln((COALESCE(c.c_ab, 0) + 1)
                  / (COALESCE(u.c_w, 0) + v.v_sz)) AS lp
        FROM bgs d
        LEFT JOIN bc c USING (bg)
        LEFT JOIN uni u ON string_split(d.bg, ' ')[1] = u.word
        CROSS JOIN v)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           COUNT(*) AS n_bigrams,
           ROUND(AVG(lp), 6) AS lm_score
    FROM lp GROUP BY doc_id
    """


def _q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.text import winnowing_fingerprints

    return winnowing_fingerprints(_t(spark, sf_dir, "documents"),
                                  k=3, w=4)


def _o_winnowing(_: str) -> str:
    return """
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+')
                   AS w
        FROM documents),
    grams AS (
        SELECT doc_id,
               generate_subscripts(g, 1) - 1 AS pos,
               unnest(g) AS gram
        FROM (SELECT doc_id,
                     CASE WHEN len(w) >= 3 THEN
                         list_transform(range(1, len(w)-1),
                             i -> w[i] || ' ' || w[i+1] || ' '
                                  || w[i+2])
                     ELSE [] END AS g
              FROM t)),
    hashed AS (
        SELECT doc_id, pos, substr(md5(gram), 1, 16) AS h
        FROM grams),
    winmin AS (
        SELECT doc_id, pos,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW
                                     AND 3 FOLLOWING) AS fp,
               COUNT(*) OVER (PARTITION BY doc_id) AS n
        FROM hashed)
    SELECT DISTINCT CAST(doc_id AS BIGINT) AS doc_id, fp
    FROM winmin WHERE pos <= n - 4
    """


def _q_winnowing_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style cross-doc matching over the winnowing fingerprint
    sets: pairs sharing >= 2 selected fingerprints with each side's
    set size — integer-only output, shuffle join on the fp key with
    the same hot-bucket cap discipline as minhash_lsh_pairs."""
    from serd_spark.operators.text import winnowing_matches

    return winnowing_matches(_t(spark, sf_dir, "documents"),
                             k=3, w=4, min_shared=2, max_bucket=64)


def _o_winnowing_matches(_: str) -> str:
    return """
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+')
                   AS w
        FROM documents),
    grams AS (
        SELECT doc_id,
               generate_subscripts(g, 1) - 1 AS pos,
               unnest(g) AS gram
        FROM (SELECT doc_id,
                     CASE WHEN len(w) >= 3 THEN
                         list_transform(range(1, len(w)-1),
                             i -> w[i] || ' ' || w[i+1] || ' '
                                  || w[i+2])
                     ELSE [] END AS g
              FROM t)),
    hashed AS (
        SELECT doc_id, pos, substr(md5(gram), 1, 16) AS h
        FROM grams),
    winmin AS (
        SELECT doc_id, pos,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW
                                     AND 3 FOLLOWING) AS fp,
               COUNT(*) OVER (PARTITION BY doc_id) AS n
        FROM hashed),
    fps AS (
        SELECT DISTINCT doc_id, fp FROM winmin WHERE pos <= n - 4),
    sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fps
        FROM fps GROUP BY doc_id),
    rare AS (
        SELECT doc_id, fp FROM fps
        WHERE fp IN (SELECT fp FROM fps
                     GROUP BY fp HAVING COUNT(*) <= 64)),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM rare a JOIN rare b ON a.fp = b.fp
        WHERE a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING COUNT(*) >= 2)
    SELECT CAST(p.doc_a AS BIGINT) AS doc_a,
           CAST(p.doc_b AS BIGINT) AS doc_b,
           p.n_shared, sa.n_fps AS n_a, sb.n_fps AS n_b
    FROM pairs p
    JOIN sizes sa ON p.doc_a = sa.doc_id
    JOIN sizes sb ON p.doc_b = sb.doc_id
    """


def _q_dup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc duplicate 5-gram fraction per document — the
    'dedupable fraction' profile that motivates span-level dedup."""
    from serd_spark.operators.dedup import dup_ngram_fraction

    return dup_ngram_fraction(_t(spark, sf_dir, "documents"),
                              shingle_k=5)


def _o_dup_ngram(_: str) -> str:
    return """
    WITH words AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
        FROM documents),
    sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id, unnest(
                CASE WHEN len(w) >= 5 THEN
                    list_transform(range(1, len(w)-3),
                        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                             || ' ' || w[i+3] || ' ' || w[i+4])
                ELSE [] END) AS shingle
            FROM words)),
    cnt AS (SELECT shingle, COUNT(*) AS nd FROM sh GROUP BY shingle)
    SELECT CAST(s.doc_id AS BIGINT) AS doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_shingles,
           ROUND(CAST(SUM(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END)
                      AS DOUBLE) / GREATEST(COUNT(*), 1), 6)
               AS dup_fraction
    FROM sh s JOIN cnt c USING (shingle)
    GROUP BY s.doc_id
    """


def _q_kg_entity_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the entity co-mention graph (edge weight
    = co-mentioning turn count): which entities anchor the KG.  Exact
    oracle — the SQL rebuilds the co-mention weights from ground truth
    and unrolls the same 3 weighted power-iteration rounds."""
    from serd_spark.operators.graph import pagerank_weighted
    from serd_spark.operators.kg import comention_edges, \
        detect_mentions, link_entities

    turns, entities = _kg_turns_entities(spark, sf_dir, persons=False)
    linked = link_entities(detect_mentions(turns, entities))
    return pagerank_weighted(comention_edges(linked), n_iter=3)


def _o_weighted_rank_sql(pre_ctes: list[str], n_iter: int = 3) -> str:
    """Unrolled weighted-PageRank oracle over an ``ed0(a, b, w)``
    edge CTE that ``pre_ctes`` must end with; mirrors
    graph.pagerank_weighted incl. the e-4 rank quantization."""
    damping = 0.85
    ctes = [
        *pre_ctes,
        """edges AS (
        SELECT a AS u, b AS v, w FROM ed0
        UNION ALL SELECT b, a, w FROM ed0)""",
        "nodes AS (SELECT DISTINCT u FROM edges)",
        "nn AS (SELECT COUNT(*) AS c FROM nodes)",
        "wd AS (SELECT u, SUM(w) AS wd FROM edges GROUP BY u)",
        "r0 AS (SELECT u, 1.0/(SELECT c FROM nn) AS r FROM nodes)",
    ]
    for k in range(1, n_iter + 1):
        ctes.append(f"""r{k} AS (
        SELECT n.u,
               {1.0 - damping}/(SELECT c FROM nn)
               + {damping}*COALESCE(s.in_sum, 0) AS r
        FROM nodes n LEFT JOIN (
            SELECT e.v AS u, SUM(r.r * e.w / wd.wd) AS in_sum
            FROM edges e
            JOIN r{k - 1} r ON e.u = r.u
            JOIN wd ON e.u = wd.u
            GROUP BY e.v) s ON n.u = s.u)""")
    return f"""
    WITH {','.join(ctes)}
    SELECT u AS node,
           FLOOR(ROUND(ROUND(r, 6) * 1000000, 0) / 100) / 10000.0 AS rank
    FROM r{n_iter}
    """


def _o_kg_entity_rank(_: str) -> str:
    return _o_weighted_rank_sql(["""ed0 AS (
        SELECT 'urn:kg:nation:' || n_nationkey AS a,
               'urn:kg:region:' || n_regionkey AS b,
               CAST(COUNT(*) AS DOUBLE) AS w
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_nationkey, n_regionkey)"""])


def _q_cdc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document span dedup over content-defined chunks (rsync/
    LBFS boundaries at token granularity): per doc, chunks also
    occurring verbatim in ≥2 docs."""
    from serd_spark.operators.dedup import cdc_span_dup_stats

    return cdc_span_dup_stats(_t(spark, sf_dir, "documents"),
                              divisor=8)


def _o_cdc_spans(_: str) -> str:
    return """
    WITH words AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
        FROM documents),
    toks AS (
        SELECT doc_id, unnest(w) AS tok,
               generate_subscripts(w, 1) AS pos
        FROM words),
    flagged AS (
        SELECT doc_id, tok, pos,
               CASE WHEN ('0x' || substr(md5(tok), 1, 8))::BIGINT % 8
                         = 0
                    THEN 1 ELSE 0 END AS closes
        FROM toks WHERE tok <> ''),
    chunked AS (
        SELECT doc_id, tok, pos,
               COALESCE(SUM(closes) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS chunk_idx
        FROM flagged),
    chunks AS (
        SELECT doc_id, chunk_idx,
               md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
        FROM chunked GROUP BY doc_id, chunk_idx),
    ch AS (SELECT DISTINCT doc_id, chunk_hash FROM chunks),
    cnt AS (SELECT chunk_hash, COUNT(*) AS nd FROM ch
            GROUP BY chunk_hash)
    SELECT CAST(c.doc_id AS BIGINT) AS doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN t.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_chunks
    FROM ch c JOIN cnt t USING (chunk_hash)
    GROUP BY c.doc_id
    """


def _q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.text import tfidf_topk

    return tfidf_topk(_t(spark, sf_dir, "documents"), k=3)


def _o_tfidf_topk(_: str) -> str:
    return """
    WITH tf AS (
        SELECT doc_id, term, COUNT(*) AS tfc FROM (
            SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)),
                                             '\\s+')) AS term
            FROM documents)
        WHERE term <> '' GROUP BY doc_id, term),
    dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tfc,
               ROUND(tf.tfc * ln(n.n_docs / dfx.df), 6) AS tfidf
        FROM tf JOIN dfx USING (term) CROSS JOIN n),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id
            ORDER BY tfidf DESC, term ASC) AS rnk
        FROM scored)
    SELECT CAST(doc_id AS BIGINT) AS doc_id, term,
           CAST(tfc AS BIGINT) AS tf, tfidf,
           CAST(rnk AS BIGINT) AS rank
    FROM ranked WHERE rnk <= 3
    """


def _q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the LSH pair graph (compact-forward
    orientation in Spark; the orientation-invariant result lets the
    oracle count with the simple id-orientation)."""
    from serd_spark.operators.dedup import minhash_lsh_pairs
    from serd_spark.operators.graph import triangle_counts

    pairs = minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), n_bands=4, shingle_k=3,
        max_bucket=64)
    return triangle_counts(pairs)


def _o_triangle_count(_: str) -> str:
    return f"""
    WITH {_LSH_PAIRS_CTE},
    tri AS (
        SELECT e1.doc_a AS x, e1.doc_b AS y, e2.doc_b AS z
        FROM pairs e1
        JOIN pairs e2 ON e1.doc_b = e2.doc_a
        JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
    verts AS (
        SELECT x AS doc_id FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           COUNT(*) AS n_triangles
    FROM verts GROUP BY doc_id
    """


def _q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round k-core peel (k=3) of the LSH pair graph — exact
    oracle: the SQL unrolls the same peel rounds as chained CTEs."""
    from serd_spark.operators.dedup import minhash_lsh_pairs
    from serd_spark.operators.graph import kcore_peel

    pairs = minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), n_bands=4, shingle_k=3,
        max_bucket=64)
    return kcore_peel(pairs, k=3, n_rounds=3)


def _o_kcore(_: str) -> str:
    k, n_rounds = 3, 3
    ctes = ["e0 AS (SELECT u, v FROM edges)"]
    for r in range(1, n_rounds + 1):
        ctes.append(f"""k{r} AS (
            SELECT u FROM e{r - 1} GROUP BY u HAVING COUNT(*) >= {k})""")
        ctes.append(f"""e{r} AS (
            SELECT e.u, e.v FROM e{r - 1} e
            JOIN k{r} a ON e.u = a.u
            JOIN k{r} b ON e.v = b.u)""")
    return f"""
    WITH {_LSH_PAIRS_CTE},
    {','.join(ctes)}
    SELECT CAST(u AS BIGINT) AS doc_id, COUNT(*) AS degree
    FROM e{n_rounds} GROUP BY u
    """


def _q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.text import bigram_pmi

    return bigram_pmi(_t(spark, sf_dir, "documents"), k=40,
                      min_count=5)


def _o_bigram_pmi(_: str) -> str:
    return """
    WITH t AS (
        SELECT string_split_regex(trim(lower(text)), '\\s+') AS w
        FROM documents),
    uc AS (
        SELECT word, COUNT(*) AS c_w FROM (
            SELECT unnest(w) AS word FROM t)
        WHERE word <> '' GROUP BY word),
    n AS (SELECT CAST(SUM(c_w) AS DOUBLE) AS n_tok FROM uc),
    bc AS (
        SELECT bigram, COUNT(*) AS c_ab FROM (
            SELECT unnest(
                CASE WHEN len(w) >= 2 THEN
                    list_transform(range(1, len(w)),
                                   i -> w[i] || ' ' || w[i+1])
                ELSE [] END) AS bigram
            FROM t)
        GROUP BY bigram HAVING COUNT(*) >= 5),
    parts AS (
        SELECT bigram, c_ab,
               string_split(bigram, ' ')[1] AS w1,
               string_split(bigram, ' ')[2] AS w2
        FROM bc)
    SELECT p.bigram, CAST(p.c_ab AS BIGINT) AS n_pair,
           ROUND(ln(p.c_ab * n.n_tok / (a.c_w * b.c_w)), 6) AS pmi
    FROM parts p
    JOIN uc a ON p.w1 = a.word
    JOIN uc b ON p.w2 = b.word
    CROSS JOIN n
    WHERE p.w1 <> '' AND p.w2 <> ''
    ORDER BY pmi DESC, p.bigram ASC
    LIMIT 40
    """


def _q_source_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.text import source_quality_stats

    return source_quality_stats(_t(spark, sf_dir, "documents"))


def _o_source_quality(_: str) -> str:
    stop = ["the", "and", "of", "to", "is", "a", "in", "it", "for", "on"]
    hits = " + ".join(
        f"len(regexp_extract_all(lower(text), '\\b{w}\\b'))" for w in stop)
    return f"""
    WITH q AS (
        SELECT source,
          ROUND(
            LEAST(1.0,
                  len(string_split_regex(trim(text), '\\s+')) / 64.0)
                * 0.4
            + LEAST(1.0, ROUND(({hits})
                / GREATEST(len(string_split_regex(trim(text), '\\s+')),
                           1), 6) * 4.0) * 0.4
            + CASE WHEN ROUND(len(regexp_extract_all(text, '[.,!?;:]'))
                              / GREATEST(length(text), 1), 6) < 0.1
                   THEN 0.2 ELSE 0.0 END, 6) AS qs
        FROM documents)
    SELECT source,
           COUNT(*) AS n_docs,
           ROUND(AVG(qs), 6) AS avg_quality,
           MIN(qs) AS min_quality,
           MAX(qs) AS max_quality
    FROM q GROUP BY source
    """


def _kg_turns_entities(spark: SparkSession, sf_dir: str,
                       persons: bool = True):
    """Shared KG fixture: customer⋈nation⋈region turns + the alias
    dictionary (nation entities, optional ambiguous person homonyms,
    region entities) — ground truth known by construction."""
    from serd_spark.operators.util import spread

    # spread the one-split customer scan: the broadcast dim joins
    # preserve its partitioning, and the downstream mention-detect
    # gram explode is the expensive stage (guide §2.5)
    cust = spread(_t(spark, sf_dir, "customer"))
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    turns = (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, F.col("n_regionkey") == region.r_regionkey)
        .select(
            F.concat(F.lit("c"), F.col("c_custkey").cast("string"))
            .alias("conv_id"),
            F.lit(0).cast("int").alias("turn_idx"),
            F.concat(F.lit("customer "), "c_name",
                     F.lit(" of nation "), "n_name",
                     F.lit(" in region "), "r_name").alias("text"),
        )
    )
    entities = nation.select(
        F.col("n_nationkey").cast("long").alias("entity_id"),
        F.concat(F.lit("urn:kg:nation:"), "n_nationkey").alias("iri"),
        F.lower("n_name").alias("alias"),
        F.array(F.lit("nation")).alias("ctx"))
    if persons:
        entities = entities.unionByName(nation.select(
            (F.col("n_nationkey") + 100).cast("long").alias("entity_id"),
            F.concat(F.lit("urn:kg:person:"), "n_nationkey").alias("iri"),
            F.lower("n_name").alias("alias"),
            F.array(F.lit("person")).alias("ctx")))
    entities = entities.unionByName(region.select(
        (F.col("r_regionkey") + 200).cast("long").alias("entity_id"),
        F.concat(F.lit("urn:kg:region:"), "r_regionkey").alias("iri"),
        F.lower("r_name").alias("alias"),
        F.array(F.lit("region")).alias("ctx")))
    return turns, entities


def _q_kg_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern-based relation extraction on the KG fixture: the token
    gap between the linked nation mention and the linked region
    mention is always 'in region', so every customer turn emits
    exactly (nation IRI, urn:rel:located_in, region IRI) — ground
    truth the oracle derives directly from customer⋈nation⋈region."""
    from serd_spark.operators.kg import detect_mentions, \
        extract_relations, link_entities

    turns, entities = _kg_turns_entities(spark, sf_dir)
    linked = link_entities(detect_mentions(turns, entities),
                           keep_toks=True)
    patterns = spark.createDataFrame(
        [("in region", "urn:rel:located_in")],
        "gap_text string, pred string")
    rel = extract_relations(linked, patterns)
    return rel.select("conv_id", "s", "p", "o")


def _o_kg_relations(_: str) -> str:
    return """
    SELECT 'c' || c_custkey AS conv_id,
           'urn:kg:nation:' || n_nationkey AS s,
           'urn:rel:located_in' AS p,
           'urn:kg:region:' || n_regionkey AS o
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    """


# -- non-SQL-expressible ops (rows-only checks; gated by pytest suites) --

def _q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.similarity import embedding_neardup

    return embedding_neardup(_t(spark, sf_dir, "embeddings"), tau=0.45)


def _o_embedding_neardup(_: str) -> str:
    return """
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT CAST(a.vec_id AS BIGINT) AS vec_a,
           CAST(b.vec_id AS BIGINT) AS vec_b,
           ROUND(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE ROUND(list_dot_product(a.v, b.v)
                / (sqrt(list_dot_product(a.v, a.v))
                   * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.45
    """


def _q_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse assignment with an EXACT oracle: deterministic
    md5-sampled centroids, max-cosine cell per vector (JVM float path
    — argmax is bit-stable across engines because both sum the dot
    left-to-right in doubles).  Upgrades the assignment stage of the
    rows-only `ivf_ann` to a hash-gated contract row."""
    from serd_spark.operators.similarity import ivf_assign

    assigned, _ = ivf_assign(_t(spark, sf_dir, "embeddings"),
                             n_cells=16)
    return assigned.select(F.col("vec_id").cast("long").alias("vec_id"),
                           F.col("cell").cast("long").alias("cell"))


def _o_ivf_cells(_: str) -> str:
    return """
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cents AS (
        SELECT ROW_NUMBER() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR))) AS cell,
               v AS cv
        FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16),
    scored AS (
        SELECT e.vec_id, cents.cell,
               list_dot_product(e.v, cents.cv)
               / (sqrt(list_dot_product(e.v, e.v))
                  * sqrt(list_dot_product(cents.cv, cents.cv))) AS csim
        FROM e CROSS JOIN cents),
    r AS (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY csim DESC, cell ASC) AS rn
        FROM scored)
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           CAST(cell AS BIGINT) AS cell
    FROM r WHERE rn = 1
    """


def _q_semantic_decon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: corpus vectors within cosine
    0.4 of any eval-subset vector (eval = vec_id % 9 == 0).  The
    GEMM candidate stage re-verifies on the JVM float path, so the
    oracle is the exact all-pairs cross join between the subsets."""
    from serd_spark.operators.similarity import embedding_decontamination

    emb = _t(spark, sf_dir, "embeddings")
    ev = emb.where(F.col("vec_id") % 9 == 0)
    tr = emb.where(F.col("vec_id") % 9 != 0)
    return embedding_decontamination(tr, ev, tau=0.4)


def _o_semantic_decon(_: str) -> str:
    return """
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    ev AS (SELECT * FROM e WHERE vec_id % 9 = 0),
    tr AS (SELECT * FROM e WHERE vec_id % 9 <> 0)
    SELECT CAST(tr.vec_id AS BIGINT) AS vec_id,
           CAST(ev.vec_id AS BIGINT) AS eval_id,
           ROUND(list_dot_product(tr.v, ev.v)
                 / (sqrt(list_dot_product(tr.v, tr.v))
                    * sqrt(list_dot_product(ev.v, ev.v))), 6) AS sim
    FROM tr CROSS JOIN ev
    WHERE isfinite(ROUND(list_dot_product(tr.v, ev.v)
                / (sqrt(list_dot_product(tr.v, tr.v))
                   * sqrt(list_dot_product(ev.v, ev.v))), 6))
      AND ROUND(list_dot_product(tr.v, ev.v)
                / (sqrt(list_dot_product(tr.v, tr.v))
                   * sqrt(list_dot_product(ev.v, ev.v))), 6) >= 0.4
    """


def _q_random_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ±1 random projection, JVM exact path — the
    md5-derived plane matrix is re-derivable in SQL and the
    left-to-right JVM dot is bit-identical to list_dot_product, so
    the projected values hash-match with zero drift."""
    from serd_spark.operators.similarity import random_project

    return random_project(_t(spark, sf_dir, "embeddings"), out_dim=8)


def _o_random_project(_: str) -> str:
    return """
    WITH ks AS (SELECT unnest(range(0, 8)) AS k),
    dims AS (SELECT unnest(range(0, 64)) AS i),
    signs AS (
        SELECT k, i,
               CASE WHEN ('0x' || substr(md5('rp:' || k || ':' || i),
                                         1, 1))::INT % 2 = 1
                    THEN 1.0 ELSE -1.0 END AS s
        FROM ks, dims),
    planes AS (SELECT k, list(s ORDER BY i) AS sv
               FROM signs GROUP BY k),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT CAST(e.vec_id AS BIGINT) AS vec_id,
           CAST(p.k AS BIGINT) AS k,
           ROUND(list_dot_product(e.v, p.sv), 6) AS proj
    FROM e CROSS JOIN planes p
    """


def _q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embeddings table — FLOOR of
    a bit-identical element-wise double pipeline, so the int arrays
    hash-match the DuckDB mirror exactly (no decimal half-boundary
    anywhere; the ivf_cells bit-identity proof extended to
    quantization).

    Contract rows carry ONLY scalar columns (the registry lint
    enforces it): the external gate canonicalizes with pandas, which
    cannot hash list cells — an array<int> output here ERR'd the
    round-5 driver row even though the repo's tuple-sorting simulation
    passed.  So the operator stays array-valued, and the CONTRACT
    projection serializes qvec to its canonical comma-joined string
    (NULL stays NULL, matching DuckDB's array_to_string)."""
    from serd_spark.operators.similarity import embedding_quantize

    q = embedding_quantize(_t(spark, sf_dir, "embeddings"))
    return q.select(
        "vec_id", "scale",
        F.when(F.col("qvec").isNull(), F.lit(None).cast("string"))
        .otherwise(F.concat_ws(",", F.col("qvec").cast("array<string>")))
        .alias("qvec"))


def _o_embedding_quantize(_: str) -> str:
    mx = "list_max(list_transform(v, x -> abs(x)))"
    return f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           ROUND({mx}, 6) AS scale,
           array_to_string(
               CASE WHEN {mx} > 0
                    THEN list_transform(
                        v, x -> CAST(FLOOR(x * 127.0 / {mx}) AS INT))
                    ELSE list_transform(v, x -> 0)
               END, ',') AS qvec
    FROM e
    """


def _q_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join under the exact gate: events (hot user keys)
    join a per-user segment dim through salted_join's fan-out +
    build-side replication, and the output must equal the PLAIN join
    the oracle computes — salting must change the distribution, never
    the result (no dropped rows, no per-salt duplicates)."""
    from serd_spark.operators.skew import salted_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
    dim = (
        ev.select("user_id").distinct()
        .withColumn("seg", F.concat(F.lit("s"),
                                    (F.col("user_id") % 10)))
    )
    return salted_join(ev, dim, on="user_id", n_salts=8).select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        "seg")


def _o_skew_join(_: str) -> str:
    return """
    SELECT CAST(e.event_id AS BIGINT) AS event_id,
           CAST(e.user_id AS BIGINT) AS user_id,
           's' || (e.user_id % 10) AS seg
    FROM events e
    """


def _q_sliding_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking with overlap (RAG/long-context prep):
    pure JVM sequence+posexplode+slice, never crossing doc
    boundaries; integer-only window arithmetic, exact SQL mirror."""
    from serd_spark.operators.packing import sliding_chunks

    return sliding_chunks(_t(spark, sf_dir, "documents"),
                          chunk_tokens=64, overlap=16)


def _o_sliding_chunks(_: str) -> str:
    # windows advance by step=48; n_win = 1 + ceil(max(0,n-64)/48)
    return """
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
        FROM documents),
    sized AS (
        SELECT doc_id, w, len(w) AS n FROM t WHERE len(w) > 0),
    wins AS (
        SELECT doc_id, w, n,
               unnest(range(0, 1 + CAST(FLOOR(
                   (GREATEST(n - 64, 0) + 47) / 48) AS BIGINT)))
                   AS widx
        FROM sized)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(widx AS BIGINT) AS chunk_idx,
           CAST(widx * 48 AS BIGINT) AS tok_start,
           CAST(LEAST(64, n - widx * 48) AS BIGINT) AS n_tok,
           array_to_string(
               w[widx * 48 + 1 : widx * 48 + LEAST(64, n - widx * 48)],
               ' ') AS chunk_text
    FROM wins
    """


def _q_ffd_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-split sequence packing (first-fit-decreasing per hash
    shard) — rows-only like the BPE merge loop (a greedy packing loop
    is not SQL-expressible); the FFD guarantees are property-gated in
    tests/test_operators.py."""
    from serd_spark.operators.packing import ffd_pack

    return ffd_pack(_t(spark, sf_dir, "documents"), ctx_len=256,
                    n_shards=8)


def _q_compression_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio boilerplate signal — rows-only (zlib is not
    SQL-expressible); gated by pytest fixtures (templated text must
    compress far below high-entropy text)."""
    from serd_spark.operators.text import compression_ratio

    return compression_ratio(_t(spark, sf_dir, "documents"))


def _q_bpe_tokens_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-BPE token counts over documents with the committed fixture
    merges table — rows-only (a rank-ordered merge loop is not
    SQL-expressible).  This row puts the Arrow/pandas-UDF plumbing
    under the driver's rows/schema check; the SEMANTICS are gated by
    pytest golden encode vectors plus hypothesis properties
    (determinism, encode-concat losslessness, merge-prefix stability)
    in tests/test_bpe.py."""
    from serd_spark.operators.bpe import bpe_token_count, fixture_merges

    return bpe_token_count(_t(spark, sf_dir, "documents"),
                           fixture_merges())


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.sessions import sessionize

    return sessionize(_t(spark, sf_dir, "events"), gap_sec=1800)


_SESSIONIZE_CTES = """ep AS (
        SELECT user_id AS key, extract(epoch FROM ts) AS ep
        FROM events),
    marked AS (
        SELECT key, ep,
               CASE WHEN ep - LAG(ep) OVER (
                        PARTITION BY key ORDER BY ep) > 1800
                    OR LAG(ep) OVER (PARTITION BY key ORDER BY ep)
                       IS NULL
                    THEN 1 ELSE 0 END AS is_start
        FROM ep),
    sess AS (
        SELECT key, ep, CAST(SUM(is_start) OVER (
            PARTITION BY key ORDER BY ep
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM marked)"""


def _o_sessionize(_: str) -> str:
    return f"""
    WITH {_SESSIONIZE_CTES}
    SELECT key, session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(MIN(ep), 6) AS start_ep,
           ROUND(MAX(ep), 6) AS end_ep,
           ROUND(MAX(ep) - MIN(ep), 6) AS duration_sec
    FROM sess GROUP BY key, session_id
    """


def _q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval enrichment under the exact gate: events
    interval-join back to their own sessionize spans (disjoint per
    key by construction), so every event lands in exactly one
    interval and the per-session joined counts must equal the
    session sizes — while the oracle computes the containment with a
    literal BETWEEN join, a genuinely different plan."""
    from serd_spark.operators.sessions import interval_join, sessionize

    ev = _t(spark, sf_dir, "events")
    iv = sessionize(ev, gap_sec=1800).select(
        F.col("key").alias("user_id"), "session_id",
        "start_ep", "end_ep")
    j = interval_join(ev.select("user_id", "ts", "event_id"), iv)
    return (
        j.groupBy(F.col("user_id").cast("long").alias("key"),
                  "session_id")
        .agg(F.count("*").cast("long").alias("n_joined"))
    )


def _o_interval_join(_: str) -> str:
    return f"""
    WITH {_SESSIONIZE_CTES},
    sints AS (
        SELECT key, session_id,
               ROUND(MIN(ep), 6) AS start_ep,
               ROUND(MAX(ep), 6) AS end_ep
        FROM sess GROUP BY key, session_id)
    SELECT CAST(e.key AS BIGINT) AS key, s.session_id,
           CAST(COUNT(*) AS BIGINT) AS n_joined
    FROM ep e
    JOIN sints s ON e.key = s.key
                AND e.ep >= s.start_ep AND e.ep <= s.end_ep
    GROUP BY e.key, s.session_id
    """


def _q_error_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.analytics import hourly_error_rates

    return hourly_error_rates(_t(spark, sf_dir, "events"))


def _o_error_rates(_: str) -> str:
    return """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_errors,
           ROUND(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS error_rate
    FROM events GROUP BY date_trunc('hour', ts)
    """


def _q_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.analytics import value_outliers

    return value_outliers(_t(spark, sf_dir, "events"), z=2.5)


def _o_value_outliers(_: str) -> str:
    return """
    WITH s AS (
        SELECT event_type, AVG(value) AS mu, STDDEV_SAMP(value) AS sd
        FROM events GROUP BY event_type)
    SELECT CAST(e.event_id AS BIGINT) AS event_id,
           e.event_type,
           ROUND(e.value, 6) AS value,
           ROUND((e.value - s.mu) / s.sd, 6) AS zscore
    FROM events e JOIN s USING (event_type)
    WHERE abs(ROUND((e.value - s.mu) / s.sd, 6)) > 2.5
    """


def _q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff: the 'new' crawl drops every 13th doc, edits
    every 7th (of the survivors), and adds shifted copies of every
    11th — reconstructed identically by the oracle."""
    from serd_spark.operators.analytics import corpus_diff

    docs = _t(spark, sf_dir, "documents")
    kept = docs.where(F.col("doc_id") % 13 != 0)
    new = kept.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.col("text"), F.lit(" EDITED")))
        .otherwise(F.col("text")).alias("text"),
    ).unionByName(
        docs.where(F.col("doc_id") % 11 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"))
    return corpus_diff(docs.select("doc_id", "text"), new)


def _o_corpus_diff(_: str) -> str:
    return """
    WITH old AS (
        SELECT doc_id, md5(text) AS h FROM documents),
    new AS (
        SELECT doc_id,
               md5(CASE WHEN doc_id % 7 = 0 THEN text || ' EDITED'
                        ELSE text END) AS h
        FROM documents WHERE doc_id % 13 <> 0
        UNION ALL
        SELECT doc_id + 1000000, md5(text)
        FROM documents WHERE doc_id % 11 = 0),
    j AS (
        SELECT CASE WHEN o.h IS NULL THEN 'added'
                    WHEN n.h IS NULL THEN 'removed'
                    WHEN o.h <> n.h THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM old o FULL OUTER JOIN new n USING (doc_id))
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM j GROUP BY status
    """


def _q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.analytics import profile_columns

    return profile_columns(
        _t(spark, sf_dir, "orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"])


def _o_profile_columns(_: str) -> str:
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    parts = [
        f"""SELECT '{c}' AS column,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct
        FROM orders"""
        for c in cols
    ]
    return " UNION ALL ".join(parts)


def _q_rolling_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.analytics import rolling_revenue

    return rolling_revenue(_t(spark, sf_dir, "orders"), days=30) \
        .withColumn("order_ep", F.round("order_ep", 6))


def _o_rolling_revenue(_: str) -> str:
    return """
    SELECT CAST(o_orderkey AS BIGINT) AS order_id,
           CAST(o_custkey AS BIGINT) AS cust_id,
           ROUND(extract(epoch FROM o_orderdate), 6) AS order_ep,
           ROUND(SUM(o_totalprice) OVER w, 4) AS trailing_revenue,
           CAST(COUNT(*) OVER w AS BIGINT) AS trailing_orders
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY extract(epoch FROM o_orderdate)
                 RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
    """


def _q_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.text import quality_buckets

    return quality_buckets(_t(spark, sf_dir, "documents"))


def _o_quality_buckets(_: str) -> str:
    stop = ["the", "and", "of", "to", "is", "a", "in", "it", "for", "on"]
    hits = " + ".join(
        f"len(regexp_extract_all(lower(text), '\\b{w}\\b'))" for w in stop)
    qs = f"""ROUND(
        LEAST(1.0, len(string_split_regex(trim(text), '\\s+')) / 64.0)
            * 0.4
        + LEAST(1.0, ROUND(({hits})
            / GREATEST(len(string_split_regex(trim(text), '\\s+')), 1),
            6) * 4.0) * 0.4
        + CASE WHEN ROUND(len(regexp_extract_all(text, '[.,!?;:]'))
                          / GREATEST(length(text), 1), 6) < 0.1
               THEN 0.2 ELSE 0.0 END, 6)"""
    return f"""
    WITH q AS (SELECT {qs} AS qs FROM documents),
    th AS (SELECT ROUND(quantile_cont(qs, 0.25), 6) AS t0,
                  ROUND(quantile_cont(qs, 0.50), 6) AS t1,
                  ROUND(quantile_cont(qs, 0.75), 6) AS t2
           FROM q)
    SELECT CAST((CASE WHEN qs > t0 THEN 1 ELSE 0 END
               + CASE WHEN qs > t1 THEN 1 ELSE 0 END
               + CASE WHEN qs > t2 THEN 1 ELSE 0 END) AS BIGINT)
               AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(qs), 6) AS avg_quality
    FROM q CROSS JOIN th
    GROUP BY 1
    """


def _q_role_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Role-transition matrix over a transcript corpus derived from
    orders (conv = customer, turns in orderkey order, role from the
    order status) — conversation-shape profiling."""
    from pyspark.sql import Window

    from serd_spark.operators.analytics import role_transitions

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    turns = orders.select(
        F.col("o_custkey").alias("conv_id"),
        F.row_number().over(w).alias("turn_idx"),
        F.when(F.col("o_orderstatus") == "O", F.lit("user"))
        .when(F.col("o_orderstatus") == "F", F.lit("assistant"))
        .otherwise(F.lit("tool")).alias("role"),
    )
    return role_transitions(turns)


def _o_role_transitions(_: str) -> str:
    return """
    WITH turns AS (
        SELECT o_custkey AS conv_id,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderkey) AS turn_idx,
               CASE o_orderstatus WHEN 'O' THEN 'user'
                                  WHEN 'F' THEN 'assistant'
                                  ELSE 'tool' END AS role
        FROM orders),
    pairs AS (
        SELECT role,
               LEAD(role) OVER (PARTITION BY conv_id
                                ORDER BY turn_idx) AS next_role
        FROM turns)
    SELECT role, next_role, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs WHERE next_role IS NOT NULL
    GROUP BY role, next_role
    """


def _q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.sessions import funnel_counts

    return funnel_counts(_t(spark, sf_dir, "events"),
                         ["view", "click", "purchase"])


def _o_funnel(_: str) -> str:
    return """
    WITH s1 AS (
        SELECT user_id AS u, MIN(extract(epoch FROM ts)) AS t
        FROM events WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (
        SELECT e.user_id AS u, MIN(extract(epoch FROM e.ts)) AS t
        FROM events e JOIN s1 ON e.user_id = s1.u
         AND extract(epoch FROM e.ts) > s1.t
        WHERE e.event_type = 'click' GROUP BY e.user_id),
    s3 AS (
        SELECT e.user_id AS u, MIN(extract(epoch FROM e.ts)) AS t
        FROM events e JOIN s2 ON e.user_id = s2.u
         AND extract(epoch FROM e.ts) > s2.t
        WHERE e.event_type = 'purchase' GROUP BY e.user_id)
    SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name,
           CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_users
    UNION ALL
    SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
    UNION ALL
    SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)
    """


def _q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.sessions import retention_cohorts

    return retention_cohorts(_t(spark, sf_dir, "events"), max_days=7)


def _o_retention(_: str) -> str:
    return """
    WITH f AS (
        SELECT user_id AS u, MIN(CAST(ts AS DATE)) AS cohort
        FROM events GROUP BY user_id),
    a AS (
        SELECT DISTINCT e.user_id AS u, f.cohort,
               date_diff('day', f.cohort, CAST(e.ts AS DATE)) AS off
        FROM events e JOIN f ON e.user_id = f.u
        WHERE date_diff('day', f.cohort, CAST(e.ts AS DATE)) <= 7)
    SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day,
           CAST(off AS BIGINT) AS day_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM a GROUP BY cohort, off
    """


def _q_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.sessions import props_stats

    return props_stats(_t(spark, sf_dir, "events"))


def _o_props_stats(_: str) -> str:
    return """
    SELECT event_type,
           CAST(COUNT(k) AS BIGINT) AS n,
           MIN(k) AS k_min,
           MAX(k) AS k_max,
           ROUND(AVG(k), 6) AS k_avg
    FROM (SELECT event_type,
                 TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          FROM events)
    GROUP BY event_type
    """


def _q_kg_entity_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star KG stages end to end: mention detection (token
    n-grams vs a broadcast alias dictionary, incl. 2-gram aliases like
    'middle east' / 'united states') → entity-link scoring (context
    keywords disambiguate the deliberately-ambiguous nation-vs-person
    aliases) → (s, p, o) emission.  Turn texts and the dictionary are
    derived from customer⋈nation⋈region, so the oracle knows the
    ground-truth links by construction; the matching semantics
    themselves are unit-gated in tests/test_kg_stages.py."""
    from serd_spark.operators.kg import kg_entity_link_pipeline

    turns, entities = _kg_turns_entities(spark, sf_dir)
    return kg_entity_link_pipeline(turns, entities)


def _o_kg_entity_link(_: str) -> str:
    # ground truth by construction: every turn mentions exactly its
    # nation (context 'nation' beats the person homonym) and its
    # region; UNION = the pipeline's distinct
    return """
    WITH t AS (
        SELECT c_custkey, n_nationkey, r_regionkey
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey)
    SELECT 'urn:conv:c' || c_custkey || ':turn:0' AS s,
           'urn:kg:mentions' AS p,
           'urn:kg:nation:' || n_nationkey AS o
    FROM t
    UNION
    SELECT 'urn:conv:c' || c_custkey || ':turn:0',
           'urn:kg:mentions',
           'urn:kg:region:' || r_regionkey
    FROM t
    """


def _q_kg_comention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity co-mention edge construction on top of the linking
    pipeline: each customer turn links its nation and its region, so
    the weighted edges are (nation, region) pairs with weight = the
    customer count of that nation — ground truth the oracle derives
    directly."""
    from serd_spark.operators.kg import comention_edges, detect_mentions, \
        link_entities

    # the kg_entity_link fixture without the person homonyms
    turns, entities = _kg_turns_entities(spark, sf_dir, persons=False)
    linked = link_entities(detect_mentions(turns, entities))
    return comention_edges(linked)


def _o_kg_comention(_: str) -> str:
    # each customer-turn co-mentions exactly (its nation, its region);
    # iri_a < iri_b lexicographically: 'urn:kg:nation:...' <
    # 'urn:kg:region:...' always
    return """
    SELECT 'urn:kg:nation:' || n_nationkey AS iri_a,
           'urn:kg:region:' || n_regionkey AS iri_b,
           COUNT(*) AS n_turns
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_nationkey, n_regionkey
    """


def _q_kg_substring_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aho-Corasick substring mention detection with an EXACT oracle:
    per-(conv, entity) occurrence counts.  DuckDB reconstructs counts
    with the replace trick — (len(text) - len(replace(text, alias)))
    / len(alias) — which equals the automaton's count because no
    alias in this dictionary can overlap itself."""
    from serd_spark.operators.kg import detect_mentions_substring

    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    turns = cust.join(nation, cust.c_nationkey == nation.n_nationkey) \
        .select(
            F.concat(F.lit("c"), F.col("c_custkey").cast("string"))
            .alias("conv_id"),
            F.lit(0).cast("int").alias("turn_idx"),
            F.concat(F.lit("customer "), "c_name", F.lit(" of "),
                     "n_name", F.lit(" loves "), F.lower("n_name"))
            .alias("text"),
        )
    entities = nation.select(
        F.col("n_nationkey").cast("long").alias("entity_id"),
        F.concat(F.lit("urn:kg:nation:"), "n_nationkey").alias("iri"),
        F.lower("n_name").alias("alias"),
        F.array().cast("array<string>").alias("ctx"))
    m = detect_mentions_substring(turns, entities)
    return m.groupBy("conv_id", "iri").agg(
        F.count("*").cast("long").alias("n_occ"))


def _o_kg_substring_mentions(_: str) -> str:
    # lowercased turn text contains each nation alias twice (the
    # ' of <NAME> loves <name>' construction, case-folded by the
    # detector); cross-check every (turn, alias) with the replace
    # trick and keep hits
    return """
    WITH turns AS (
        SELECT 'c' || c_custkey AS conv_id,
               lower('customer ' || c_name || ' of ' || n_name
                     || ' loves ' || lower(n_name)) AS text
        FROM customer JOIN nation ON c_nationkey = n_nationkey),
    ents AS (
        SELECT 'urn:kg:nation:' || n_nationkey AS iri,
               lower(n_name) AS alias
        FROM nation),
    hits AS (
        SELECT t.conv_id, e.iri,
               (length(t.text) - length(replace(t.text, e.alias, '')))
               / length(e.alias) AS n_occ
        FROM turns t CROSS JOIN ents e)
    SELECT conv_id, iri, CAST(n_occ AS BIGINT) AS n_occ
    FROM hits WHERE n_occ > 0
    """


def _q_kg_parse_nt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG pipeline plumbing with an EXACT oracle: the same Turtle
    parse → quarantine → conv_metrics_from_parsed path as
    kg_parse_turtle, but over an NT-line corpus derived from orders —
    NT is line-splittable, so DuckDB can reconstruct the expected
    per-conversation triple/error counts with pure string ops (the
    Turtle-grammar twin keeps its rows-only check; this row
    hash-gates the pipeline itself).  Every 37th order carries a
    deliberately malformed line: the lax parser recovers at its
    terminating '.', quarantining exactly one error row."""
    from pyspark.sql import Window

    from serd_spark.operators.canonicalize import conv_metrics_from_parsed
    from serd_spark.operators.parse import parse_documents

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    bad = F.col("o_orderkey") % 37 == 0
    tdf = orders.select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string"))
        .alias("conv_id"),
        F.row_number().over(w).cast("int").alias("turn_idx"),
        F.lit("tool").alias("role"),
        F.concat(
            F.lit("<urn:order:"), "o_orderkey",
            F.lit("> <urn:schema:cust> <urn:cust:"), "o_custkey",
            F.lit("> .\n"),
            F.lit("<urn:order:"), "o_orderkey",
            F.lit("> <urn:schema:status> \""), "o_orderstatus",
            F.lit("\" ."),
            F.when(bad, F.lit("\nnot a valid triple line ."))
            .otherwise(F.lit("")),
        ).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    m = conv_metrics_from_parsed(
        parse_documents(tdf))
    return m.select(
        "conv_id",
        F.col("n_triples").cast("long").alias("n_triples"),
        F.col("n_errors").cast("long").alias("n_errors"),
    )


def _o_kg_parse_nt(_: str) -> str:
    # reconstruct the NT corpus in SQL, split lines, classify: in this
    # corpus a line is a triple iff it opens with '<' (well-formed NT
    # line), else it is the injected junk line -> one quarantined error
    return """
    WITH nt AS (
        SELECT 'c' || o_custkey AS conv_id,
               '<urn:order:' || o_orderkey
               || '> <urn:schema:cust> <urn:cust:' || o_custkey
               || '> .' || chr(10)
               || '<urn:order:' || o_orderkey
               || '> <urn:schema:status> "' || o_orderstatus || '" .'
               || CASE WHEN o_orderkey % 37 = 0
                       THEN chr(10) || 'not a valid triple line .'
                       ELSE '' END AS text
        FROM orders),
    lines AS (
        SELECT conv_id, unnest(string_split(text, chr(10))) AS line
        FROM nt)
    SELECT conv_id,
           CAST(SUM(CASE WHEN line LIKE '<%' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_triples,
           CAST(SUM(CASE WHEN line NOT LIKE '<%' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_errors
    FROM lines GROUP BY conv_id
    """


_TRIPLE_FIXTURES: dict = {}


def _cached_triples(spark: SparkSession, sf_dir: str, name: str,
                    builder) -> DataFrame:
    """Session-scoped materialized triple fixture (VERDICT r6 #3):
    the kg contract rows share two parsed corpora
    (:func:`_order_cust_nation_triples`, :func:`_turtle_orders_
    triples`), and re-deriving the parse inline per query cost the
    bench headline ~45-60 s while adding nothing to oracle isolation
    — each query's gated surface is its OPERATOR over a materialized
    triple table (the production read path), not the parse, which
    keeps its own dedicated gates (kg_parse_nt, kg_turtle_expand,
    kg_triple_pr, kg_named_graphs, nt_roundtrip).

    The fixture materializes ONCE per (SparkSession, sf_dir, variant)
    via localCheckpoint — the same materialized-table stand-in the
    queries already used per-call — and oracle isolation is preserved
    BY PROOF instead of by recomputation:
    ``tests/test_entry_oracles.py::test_cached_fixture_equals_inline``
    asserts the cached fixture row-identical to a fresh inline
    derivation."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    # Evict entries from stopped sessions (ADVICE r7): a long-lived
    # driver cycling SparkSessions would otherwise accumulate dead
    # DataFrame references — keep one live app's keys at a time.
    for k in [k for k in _TRIPLE_FIXTURES if k[0] != key[0]]:
        del _TRIPLE_FIXTURES[k]
    df = _TRIPLE_FIXTURES.get(key)
    if df is None:
        df = builder().localCheckpoint()
        _TRIPLE_FIXTURES[key] = df
    return df


_BUCKETED_TABLES: set = set()


def _bucketed_table_cached(spark: SparkSession, sf_dir: str,
                           table: str, n_buckets: int,
                           builder) -> DataFrame:
    """Session-scoped bucketed-table materialization (VERDICT r7 #7):
    ``write_bucketed_triples`` ran on EVERY kg_2hop_bucketed call, so
    the measured bench row was ~half write cost — but the row exists
    to gate the exchange-free catalog READ path.  Write once per
    (SparkSession, sf_dir, table, n_buckets) and read the catalog
    table back on every call: the first call in any session (pytest,
    the driver's correctness run, bench pass 1) still exercises
    parse → bucketed write → catalog read end to end under the same
    hash gate, while bench's per-query min (pass 2) measures the
    read path.  Oracle isolation is preserved by proof, same pattern
    as ``_cached_triples``: ``tests/test_entry_oracles.py::
    test_bucketed_cache_equals_inline`` asserts the cached table
    row-identical to a fresh inline derivation."""
    import hashlib

    from serd_spark.operators.materialize import write_bucketed_triples

    # the catalog name carries the cache key's data-defining parts:
    # a bare `table` name would be GLOBAL, so a second sf_dir in the
    # same session would silently read the first sf_dir's rows
    sig = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    table = f"{table}_{sig}_{n_buckets}"
    key = (spark.sparkContext.applicationId, sf_dir, table, n_buckets)
    for k in [k for k in _BUCKETED_TABLES if k[0] != key[0]]:
        _BUCKETED_TABLES.discard(k)
    if key not in _BUCKETED_TABLES:
        write_bucketed_triples(builder(), table, n_buckets=n_buckets)
        _BUCKETED_TABLES.add(key)
    return spark.table(table)


def _order_cust_nation_cached(
    spark: SparkSession, sf_dir: str, with_region: bool = False,
) -> DataFrame:
    return _cached_triples(
        spark, sf_dir, f"ocn_region={with_region}",
        lambda: _order_cust_nation_triples(spark, sf_dir,
                                           with_region=with_region))


def _turtle_orders_cached(
    spark: SparkSession, sf_dir: str, with_clerk: bool = False,
) -> DataFrame:
    return _cached_triples(
        spark, sf_dir, f"turtle_clerk={with_clerk}",
        lambda: _turtle_orders_triples(spark, sf_dir,
                                       with_clerk=with_clerk))


def _order_cust_nation_triples(
    spark: SparkSession, sf_dir: str, with_region: bool = False,
) -> DataFrame:
    """Parse the synthesized NT corpus of order→customer and
    customer→nation edges through the real Turtle parser — shared
    by kg_2hop (localCheckpoint stand-in) and kg_2hop_bucketed (the
    real ``write_bucketed_triples`` materialization).  With
    ``with_region`` the corpus additionally carries nation→region
    edges, giving kg_path3 a third hop; the default corpus is
    unchanged so the 2-hop oracles keep enumerating it exactly.
    Queries consume it through :func:`_order_cust_nation_cached`."""
    from pyspark.sql import Window

    from serd_spark.operators.parse import (
        parse_documents,
        split_quarantine,
    )

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    t1 = orders.select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string"))
        .alias("conv_id"),
        F.row_number().over(w).cast("int").alias("turn_idx"),
        F.lit("tool").alias("role"),
        F.concat(
            F.lit("<urn:order:"), "o_orderkey",
            F.lit("> <urn:schema:cust> <urn:cust:"), "o_custkey",
            F.lit("> ."),
        ).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    t2 = cust.select(
        F.concat(F.lit("n"), F.col("c_custkey").cast("string"))
        .alias("conv_id"),
        F.lit(1).cast("int").alias("turn_idx"),
        F.lit("tool").alias("role"),
        F.concat(
            F.lit("<urn:cust:"), "c_custkey",
            F.lit("> <urn:schema:nation> <urn:nation:"), "c_nationkey",
            F.lit("> ."),
        ).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    tdf = t1.unionByName(t2)
    if with_region:
        nation = _t(spark, sf_dir, "nation")
        t3 = nation.select(
            F.concat(F.lit("r"), F.col("n_nationkey").cast("string"))
            .alias("conv_id"),
            F.lit(1).cast("int").alias("turn_idx"),
            F.lit("tool").alias("role"),
            F.concat(
                F.lit("<urn:nation:"), "n_nationkey",
                F.lit("> <urn:schema:region> <urn:region:"),
                "n_regionkey", F.lit("> ."),
            ).alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
        tdf = tdf.unionByName(t3)
    triples, _ = split_quarantine(parse_documents(tdf))
    return triples


def _q_kg_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The read-side payoff of KG materialization: parse an NT corpus
    of order→customer and customer→nation edges (real Turtle
    parser), then answer the 2-hop basic graph pattern
    ``?order :cust ?c . ?c :nation ?n`` with one predicate-filtered
    hash join — the order→nation rollup a SPARQL user would write.
    The oracle knows the answer by construction (orders ⋈ customer)
    WITHOUT parsing, so the row hash-gates parse + join end to end."""
    from serd_spark.operators.kg import bgp

    # bgp_* operators assume a MATERIALIZED triple table (each arm
    # re-reads it); feeding the live parse plan directly would make
    # Spark re-run the whole parse once per arm — the session-scoped
    # cached fixture (localCheckpoint, proven row-identical to the
    # inline derivation by test_cached_fixture_equals_inline) is the
    # stand-in for the materialized table (kg_2hop_bucketed exercises
    # the real bucketed-table form).
    triples = _order_cust_nation_cached(spark, sf_dir)
    return bgp(triples, [("?order_iri", "urn:schema:cust", "?c"),
                         ("?c", "urn:schema:nation", "?nation_iri")],
               select=["order_iri", "nation_iri"])


def _q_kg_2hop_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME 2-hop BGP as kg_2hop, but over the real triple-store
    read path: the parsed triples are materialized with
    ``write_bucketed_triples`` (catalog table bucketed + sorted by
    ``s``) and the join reads the BUCKETED table back — so this row
    hash-gates parse → bucketed materialize → catalog read → BGP join
    end to end, not the localCheckpoint stand-in.  The bucketed
    layout is the warehouse form of the deploy target's Iceberg
    ``bucket(N, s)`` transform; the exchange-free plan property it
    buys is pinned separately by the bgp-over-bucketed plan tests
    (tests/test_kg_stages.py).  The write happens once per session
    (``_bucketed_table_cached``, VERDICT r7 #7) so repeated calls —
    bench's second pass in particular — measure the catalog READ
    path the row exists to gate; the first call in any fresh session
    still runs the full write under the same hash gate."""
    from serd_spark.operators.kg import bgp

    bucketed = _bucketed_table_cached(
        spark, sf_dir, "serd_triples_2hop", 8,
        lambda: _order_cust_nation_cached(spark, sf_dir))
    return bgp(bucketed, [("?order_iri", "urn:schema:cust", "?c"),
                          ("?c", "urn:schema:nation", "?nation_iri")],
               select=["order_iri", "nation_iri"])


def _o_kg_2hop(_: str) -> str:
    return """
    SELECT DISTINCT 'urn:order:' || o_orderkey AS order_iri,
           'urn:nation:' || c_nationkey AS nation_iri
    FROM orders JOIN customer ON o_custkey = c_custkey
    """


def _q_kg_turtle_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-gate the TURTLE grammar itself (not just NT lines): each
    order becomes a Turtle doc exercising @prefix + CURIE expansion,
    the `a` → rdf:type sugar, a `;` predicate list and a `,` object
    list; the real Turtle parser expands it to 4 typed triples per
    order, and the oracle reconstructs those triples by construction
    with pure string ops — the grammar's fan-out and the Env expansion
    both sit under the exact-equality gate (the rows-only
    kg_parse_turtle keeps covering the generator-driven corpus)."""
    triples = _turtle_orders_cached(spark, sf_dir)
    return triples.select(
        "s", "p", "o", F.col("o_type").cast("int").alias("o_type"))


def _turtle_orders_triples(
    spark: SparkSession, sf_dir: str, with_clerk: bool = False,
) -> DataFrame:
    """Parse the synthesized orders-Turtle corpus (one doc per order:
    @prefix, `a` sugar, `;`/`,` lists) through the real Turtle
    parser — shared by kg_turtle_expand and kg_star.  With
    ``with_clerk`` every third order additionally carries an
    ``s:clerk`` property (the sometimes-absent arm that
    kg_star_optional's OPTIONAL join targets); the default corpus is
    unchanged so the kg_turtle_expand oracle keeps enumerating it
    exactly."""
    from serd_spark.operators.parse import (
        parse_documents,
        split_quarantine,
    )

    orders = _t(spark, sf_dir, "orders")
    clerk = (
        F.when(F.col("o_orderkey") % 3 == 0,
               F.concat(F.lit(" ; s:clerk \"k"),
                        (F.col("o_orderkey") % 7), F.lit("\"")))
        .otherwise(F.lit(""))
        if with_clerk else F.lit("")
    )
    tdf = orders.select(
        F.concat(F.lit("o"), F.col("o_orderkey").cast("string"))
        .alias("conv_id"),
        F.lit(1).cast("int").alias("turn_idx"),
        F.lit("tool").alias("role"),
        F.concat(
            F.lit("@prefix s: <urn:schema:> . <urn:order:"),
            "o_orderkey",
            F.lit("> a s:Order ; s:status \""), "o_orderstatus",
            F.lit("\" , \"p"), (F.col("o_orderkey") % 5),
            F.lit("\" ; s:cust <urn:cust:"), "o_custkey",
            F.lit(">"), clerk, F.lit(" ."),
        ).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    triples, _ = split_quarantine(parse_documents(tdf))
    return triples


def _q_kg_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star BGP over the parsed Turtle corpus: every order's
    (status, cust) property profile via a subject-keyed 2-arm join —
    the `,` object list fans each order into 2 rows (combinational
    BGP semantics), which the oracle reproduces by construction."""
    from serd_spark.operators.kg import bgp

    # localCheckpoint = the materialized-table stand-in (see kg_2hop)
    triples = _turtle_orders_cached(spark, sf_dir)
    return bgp(triples, [("?s", "urn:schema:status", "?status"),
                         ("?s", "urn:schema:cust", "?cust_iri")])


def _o_kg_star(_: str) -> str:
    # the two s:status objects (o_orderstatus and the 'pN' literal)
    # each pair with the single s:cust object — 2 rows per order
    return """
    SELECT 'urn:order:' || o_orderkey AS s,
           o_orderstatus AS status,
           'urn:cust:' || o_custkey AS cust_iri
    FROM orders
    UNION ALL
    SELECT 'urn:order:' || o_orderkey,
           'p' || (o_orderkey % 5),
           'urn:cust:' || o_custkey
    FROM orders
    """


def _q_kg_star_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL OPTIONAL under the exact gate: the kg_star entity
    profile plus an OPTIONAL ``s:clerk`` arm that only every third
    order carries — the left-join BGP shape reference users write
    daily.  Orders without the property keep their 2 fan-out rows
    with clerk NULL (an inner arm would drop them); the oracle
    reproduces the profile by construction with a CASE-null clerk."""
    from serd_spark.operators.kg import bgp

    # localCheckpoint = the materialized-table stand-in (see kg_2hop)
    triples = _turtle_orders_cached(
        spark, sf_dir, with_clerk=True)
    return bgp(triples, [("?s", "urn:schema:status", "?status"),
                         ("?s", "urn:schema:cust", "?cust_iri")],
               optional=[[("?s", "urn:schema:clerk", "?clerk")]])


def _o_kg_star_optional(_: str) -> str:
    return """
    WITH profile AS (
        SELECT o_orderkey, o_orderstatus AS status FROM orders
        UNION ALL
        SELECT o_orderkey, 'p' || (o_orderkey % 5) FROM orders)
    SELECT 'urn:order:' || p.o_orderkey AS s,
           p.status,
           'urn:cust:' || o.o_custkey AS cust_iri,
           CASE WHEN p.o_orderkey % 3 = 0
                THEN 'k' || (p.o_orderkey % 7) END AS clerk
    FROM profile p JOIN orders o ON p.o_orderkey = o.o_orderkey
    """


def _q_kg_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negation-by-absence BGP under the exact gate: orders with a
    ``s:cust`` arm but NO ``s:clerk`` property (only every third
    order carries one in the clerk corpus) — SPARQL FILTER NOT
    EXISTS as a left-anti join on the same subject key every other
    BGP join uses.  The oracle knows the absent set by construction
    (o_orderkey % 3 <> 0)."""
    from serd_spark.operators.kg import bgp

    triples = _turtle_orders_cached(
        spark, sf_dir, with_clerk=True)
    return bgp(triples, [("?s", "urn:schema:cust", "?cust_iri")],
               not_exists=[[("?s", "urn:schema:clerk", "?_x")]])


def _o_kg_not_exists(_: str) -> str:
    return """
    SELECT 'urn:order:' || o_orderkey AS s,
           'urn:cust:' || o_custkey AS cust_iri
    FROM orders WHERE o_orderkey % 3 <> 0
    """


def _q_kg_char_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Characteristic sets (the star-join cardinality statistic)
    over the parsed clerk corpus: every order's predicate set is
    {rdf:type, status, cust} plus clerk for every third order — so
    the corpus has exactly TWO schema shapes, whose subject counts
    the oracle knows by construction.  Hash-gates parser fan-out +
    per-subject set assembly + the shape census end to end."""
    from serd_spark.operators.kg import characteristic_sets

    triples = _turtle_orders_cached(
        spark, sf_dir, with_clerk=True)
    return characteristic_sets(triples)


def _o_kg_char_sets(_: str) -> str:
    rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    return f"""
    SELECT '{rdf_type}|urn:schema:clerk|urn:schema:cust|urn:schema:status'
               AS char_set,
           CAST(COUNT(*) AS BIGINT) AS n_subjects
    FROM orders WHERE o_orderkey % 3 = 0
    HAVING COUNT(*) > 0
    UNION ALL
    SELECT '{rdf_type}|urn:schema:cust|urn:schema:status',
           CAST(COUNT(*) AS BIGINT)
    FROM orders WHERE o_orderkey % 3 <> 0
    HAVING COUNT(*) > 0
    """


def _q_kg_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure / property-path query (``?root p+ ?x``)
    under the exact gate: BFS hop levels over the synthetic
    orderkey-octree tree (edge floor(k/8) → k for every NON-'P'
    order k ≥ 1 — k=0 would self-loop, and the recursive-CTE oracle,
    unlike the anti-join BFS, cannot survive a cycle) from root 0.
    Dropping the ~3% 'P'-status edges makes reachability genuinely
    data-dependent: a node is reachable only if its whole ancestor
    chain survived, so a missing edge prunes the entire subtree —
    a real graph fixpoint, not a closed form.  The Spark side
    iterates frontier joins (integer-exact, no float grain), the
    oracle is a recursive CTE."""
    from serd_spark.operators.graph import bfs_levels

    orders = _t(spark, sf_dir, "orders")
    edges = orders.where(
        (F.col("o_orderkey") >= 1) & (F.col("o_orderstatus") != "P")
    ).select(
        F.floor(F.col("o_orderkey") / 8).cast("long").alias("src"),
        F.col("o_orderkey").cast("long").alias("dst"))
    roots = spark.range(1).select(F.lit(0).cast("long").alias("node"))
    out = bfs_levels(edges, roots)
    return out.select(F.col("node").cast("long").alias("node"),
                      F.col("level").cast("int").alias("level"))


def _o_kg_reachability(_: str) -> str:
    return """
    WITH RECURSIVE e AS (
        SELECT CAST(o_orderkey // 8 AS BIGINT) AS src,
               CAST(o_orderkey AS BIGINT) AS dst
        FROM orders
        WHERE o_orderkey >= 1 AND o_orderstatus <> 'P'),
    r AS (
        SELECT CAST(0 AS BIGINT) AS node, 0 AS level
        UNION ALL
        SELECT e.dst, r.level + 1 FROM e JOIN r ON e.src = r.node)
    SELECT node, CAST(MIN(level) AS INT) AS level
    FROM r GROUP BY node
    """


def _q_kg_path3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-length sequence property path (``?o :cust/:nation/
    :region ?r`` — SPARQL 1.1 path syntax) over the parsed NT corpus
    extended with nation→region edges: three predicate-filtered hash
    joins chained on the frontier node, the shape a SPARQL user
    writes for any fixed-depth rollup.  The oracle knows the answer
    by construction (orders ⋈ customer ⋈ nation) without parsing, so
    the row hash-gates parse + 3-hop chain end to end."""
    from serd_spark.operators.kg import bgp_path

    triples = _order_cust_nation_cached(
        spark, sf_dir, with_region=True)
    return bgp_path(
        triples,
        ["urn:schema:cust", "urn:schema:nation", "urn:schema:region"],
        out_cols=("order_iri", "region_iri"))


def _o_kg_path3(_: str) -> str:
    return """
    SELECT DISTINCT 'urn:order:' || o_orderkey AS order_iri,
           'urn:region:' || n_regionkey AS region_iri
    FROM orders JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
    """


def _q_kg_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL VALUES inline binding under the exact gate:
    ``VALUES (?status ?grade) { ("F" "closed") ("O" "open") }
    ?s s:status ?status`` over the parsed Turtle corpus — the
    query-author-typed row table broadcasts against one predicate's
    edges and carries its ?grade binding alongside each match ('P'
    orders and the 'pN' literals bind nothing and drop).  The oracle
    mirrors with a literal VALUES clause."""
    from serd_spark.operators.kg import bgp_values

    triples = _turtle_orders_cached(spark, sf_dir)
    return bgp_values(
        triples, "urn:schema:status",
        [("F", "closed"), ("O", "open")], ["status", "grade"])


def _o_kg_values(_: str) -> str:
    return """
    SELECT DISTINCT 'urn:order:' || o_orderkey AS s,
           v.status, v.grade
    FROM orders
    JOIN (VALUES ('F', 'closed'), ('O', 'open')) v(status, grade)
      ON o_orderstatus = v.status
    """


def _q_kg_triple_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The acceptance metric itself (triple P/R vs a reference
    graph) as a driver-gated distributed operator: parse a lax NT
    corpus where every 'P'-status order carries a malformed object
    (quarantined, so the emitted graph MISSES those triples →
    recall < 1) and score it against an expected graph that by
    construction excludes every 11th order (so the emitted graph
    has EXTRA triples → precision < 1).  Both metrics are genuinely
    data-dependent and integer-exact (ppm via BIGINT division — no
    float for the gate to trip on); the oracle counts the same three
    populations directly from orders."""
    from serd_spark.operators.kg import triple_pr
    from serd_spark.operators.parse import (
        parse_documents,
        split_quarantine,
    )
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    obj = F.when(F.col("o_orderstatus") == "P", F.lit("bad ."))\
        .otherwise(F.concat(F.lit("<urn:cust:"), "o_custkey",
                            F.lit("> .")))
    tdf = orders.select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string"))
        .alias("conv_id"),
        F.row_number().over(w).cast("int").alias("turn_idx"),
        F.lit("tool").alias("role"),
        F.concat(
            F.lit("<urn:order:"), "o_orderkey",
            F.lit("> <urn:schema:cust> "), obj,
        ).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    emitted, _ = split_quarantine(
        parse_documents(tdf))
    expected = orders.where(F.col("o_orderkey") % 11 != 0).select(
        F.concat(F.lit("urn:order:"), "o_orderkey").alias("s"),
        F.lit("urn:schema:cust").alias("p"),
        F.concat(F.lit("urn:cust:"), "o_custkey").alias("o"))
    return triple_pr(emitted, expected)


def _o_kg_triple_pr(_: str) -> str:
    return """
    WITH c AS (
        SELECT COUNT(*) FILTER (WHERE o_orderstatus <> 'P')
                   AS n_emitted,
               COUNT(*) FILTER (WHERE o_orderkey % 11 <> 0)
                   AS n_expected,
               COUNT(*) FILTER (WHERE o_orderstatus <> 'P'
                                AND o_orderkey % 11 <> 0)
                   AS n_matched
        FROM orders)
    SELECT CAST(n_emitted AS BIGINT) AS n_emitted,
           CAST(n_expected AS BIGINT) AS n_expected,
           CAST(n_matched AS BIGINT) AS n_matched,
           CAST(n_matched * 1000000 // n_emitted AS BIGINT)
               AS precision_ppm,
           CAST(n_matched * 1000000 // n_expected AS BIGINT)
               AS recall_ppm
    FROM c
    """


def _q_kg_path_alt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 inverse + alternation path — ``?party
    (^:member|:in)/:region ?r`` — over a mixed-direction triple
    store: customer membership is stored REVERSED (nation→customer,
    the way a membership list is published) while supplier location
    is forward (supplier→nation), so reaching "every party's region"
    needs an alternation whose arms traverse in OPPOSITE directions
    followed by a forward hop.  The triples are synthesized
    in-DataFrame (the path operator's semantics are the gated
    surface; parse+chain is gated by kg_path3), the oracle knows the
    answer from the base tables without any path machinery."""
    from serd_spark.operators.kg import bgp_path

    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    t = cust.select(
        F.concat(F.lit("urn:nation:"), "c_nationkey").alias("s"),
        F.lit("urn:schema:member").alias("p"),
        F.concat(F.lit("urn:cust:"), "c_custkey").alias("o"),
    ).unionByName(supp.select(
        F.concat(F.lit("urn:supp:"), "s_suppkey").alias("s"),
        F.lit("urn:schema:in").alias("p"),
        F.concat(F.lit("urn:nation:"), "s_nationkey").alias("o"),
    )).unionByName(nation.select(
        F.concat(F.lit("urn:nation:"), "n_nationkey").alias("s"),
        F.lit("urn:schema:region").alias("p"),
        F.concat(F.lit("urn:region:"), "n_regionkey").alias("o"),
    ))
    return bgp_path(
        t, [["^urn:schema:member", "urn:schema:in"],
            "urn:schema:region"],
        out_cols=("party_iri", "region_iri"))


def _o_kg_path_alt(_: str) -> str:
    return """
    SELECT DISTINCT party_iri,
           'urn:region:' || n_regionkey AS region_iri
    FROM (
        SELECT 'urn:cust:' || c_custkey AS party_iri,
               c_nationkey AS nk FROM customer
        UNION ALL
        SELECT 'urn:supp:' || s_suppkey, s_nationkey FROM supplier
    ) p JOIN nation ON nk = n_nationkey
    """


def _q_kg_sameas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """owl:sameAs closure + canonical rewrite under the exact gate:
    every customer is minted under an alias IRI (``urn:alias:C
    sameAs urn:cust:C``), every third customer ALSO under a
    second-level alias chained onto the first (``urn:alt:C sameAs
    urn:alias:C`` — transitivity is load-bearing), and the order
    data itself is inconsistent: even orders point at the alias
    IRI, odd at the base IRI, and every 5th order asserts BOTH
    forms (which must collapse to ONE canonical triple).  After
    closure the oracle is pure construction: every order maps to
    ``urn:alias:C`` (the lexicographic min of each identity
    component), one row per order."""
    from serd_spark.operators.kg import sameas_closure

    SA = "http://www.w3.org/2002/07/owl#sameAs"
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    alias1 = cust.select(
        F.concat(F.lit("urn:alias:"), "c_custkey").alias("s"),
        F.lit(SA).alias("p"),
        F.concat(F.lit("urn:cust:"), "c_custkey").alias("o"))
    alias2 = cust.where(F.col("c_custkey") % 3 == 0).select(
        F.concat(F.lit("urn:alt:"), "c_custkey").alias("s"),
        F.lit(SA).alias("p"),
        F.concat(F.lit("urn:alias:"), "c_custkey").alias("o"))
    obj = F.when(
        F.col("o_orderkey") % 2 == 0,
        F.concat(F.lit("urn:alias:"), "o_custkey"),
    ).otherwise(F.concat(F.lit("urn:cust:"), "o_custkey"))
    data = orders.select(
        F.concat(F.lit("urn:order:"), "o_orderkey").alias("s"),
        F.lit("urn:schema:cust").alias("p"), obj.alias("o"))
    both = orders.where(F.col("o_orderkey") % 5 == 0).select(
        F.concat(F.lit("urn:order:"), "o_orderkey").alias("s"),
        F.lit("urn:schema:cust").alias("p"),
        F.when(F.col("o_orderkey") % 2 == 0,
               F.concat(F.lit("urn:cust:"), "o_custkey"))
        .otherwise(F.concat(F.lit("urn:alias:"), "o_custkey"))
        .alias("o"))
    t = data.unionByName(both).unionByName(alias1) \
        .unionByName(alias2)
    return sameas_closure(t)


def _o_kg_sameas(_: str) -> str:
    return """
    SELECT DISTINCT 'urn:order:' || o_orderkey AS s,
           'urn:schema:cust' AS p,
           'urn:alias:' || o_custkey AS o
    FROM orders
    """


def _q_kg_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental KG maintenance: the add/del delta between two
    nightly snapshots — old misses every 7th order, new misses
    every 5th — so the delta is exactly the symmetric difference
    and the oracle enumerates both arms from the base table."""
    from serd_spark.operators.kg import graph_delta

    orders = _t(spark, sf_dir, "orders")

    def snap(df):
        return df.select(
            F.concat(F.lit("urn:order:"), "o_orderkey").alias("s"),
            F.lit("urn:schema:cust").alias("p"),
            F.concat(F.lit("urn:cust:"), "o_custkey").alias("o"))

    old = snap(orders.where(F.col("o_orderkey") % 7 != 0))
    new = snap(orders.where(F.col("o_orderkey") % 5 != 0))
    return graph_delta(old, new)


def _o_kg_delta(_: str) -> str:
    return """
    SELECT 'urn:order:' || o_orderkey AS s,
           'urn:schema:cust' AS p,
           'urn:cust:' || o_custkey AS o, 'add' AS change
    FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 5 <> 0
    UNION ALL
    SELECT 'urn:order:' || o_orderkey, 'urn:schema:cust',
           'urn:cust:' || o_custkey, 'del'
    FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0
    """


def _q_kg_apply_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consumer half of incremental maintenance under the gate:
    compute the add/del delta between two snapshots (old misses
    every 7th order, new misses every 5th) and APPLY it back to the
    old snapshot — the result must be exactly the new snapshot, so
    the oracle is one enumerable filter, while the Spark side
    exercises graph_delta ∘ apply_delta end to end."""
    from serd_spark.operators.kg import apply_delta, graph_delta

    orders = _t(spark, sf_dir, "orders")

    def snap(df):
        return df.select(
            F.concat(F.lit("urn:order:"), "o_orderkey").alias("s"),
            F.lit("urn:schema:cust").alias("p"),
            F.concat(F.lit("urn:cust:"), "o_custkey").alias("o"))

    old = snap(orders.where(F.col("o_orderkey") % 7 != 0))
    new = snap(orders.where(F.col("o_orderkey") % 5 != 0))
    return apply_delta(old, graph_delta(old, new))


def _o_kg_apply_delta(_: str) -> str:
    return """
    SELECT DISTINCT 'urn:order:' || o_orderkey AS s,
           'urn:schema:cust' AS p,
           'urn:cust:' || o_custkey AS o
    FROM orders WHERE o_orderkey % 5 <> 0
    """


def _q_kg_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL DESCRIBE over the orders graph: the entity cards of
    every 50th customer (incoming arm — all statements pointing at
    them) and every 97th order (outgoing arm — that order's
    customer edge and status literal).  Status literals never
    collide with seed IRIs, so the oracle enumerates the three
    populations directly."""
    from serd_spark.operators.kg import bgp_describe

    orders = _t(spark, sf_dir, "orders")
    triples = orders.select(
        F.concat(F.lit("urn:order:"), "o_orderkey").alias("s"),
        F.lit("urn:schema:cust").alias("p"),
        F.concat(F.lit("urn:cust:"), "o_custkey").alias("o"),
    ).unionByName(orders.select(
        F.concat(F.lit("urn:order:"), "o_orderkey").alias("s"),
        F.lit("urn:schema:status").alias("p"),
        F.col("o_orderstatus").alias("o")))
    seeds = orders.where(F.col("o_custkey") % 50 == 0).select(
        F.concat(F.lit("urn:cust:"), "o_custkey").alias("node"),
    ).unionByName(orders.where(F.col("o_orderkey") % 97 == 0).select(
        F.concat(F.lit("urn:order:"), "o_orderkey").alias("node")))
    return bgp_describe(triples, seeds)


def _o_kg_describe(_: str) -> str:
    return """
    SELECT DISTINCT s, p, o FROM (
        SELECT 'urn:order:' || o_orderkey AS s,
               'urn:schema:cust' AS p,
               'urn:cust:' || o_custkey AS o
        FROM orders WHERE o_orderkey % 97 = 0
        UNION ALL
        SELECT 'urn:order:' || o_orderkey, 'urn:schema:status',
               o_orderstatus
        FROM orders WHERE o_orderkey % 97 = 0
        UNION ALL
        SELECT 'urn:order:' || o_orderkey, 'urn:schema:cust',
               'urn:cust:' || o_custkey
        FROM orders WHERE o_custkey % 50 = 0
    )
    """


def _q_tool_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tool agent-transcript profile under the exact gate: the
    input-hint's ``tool`` column driver-gated for the first time.
    Transcripts synthesize deterministically from orders — one conv
    per customer, turns in orderkey order, tool named by status,
    every 13th turn an error result, ts = orderkey minutes — so
    call counts, conversation reach, error ppm, and the
    call→next-turn latency sums are all enumerable in SQL."""
    from pyspark.sql import Window

    from serd_spark.operators.analytics import tool_call_stats

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    tdf = orders.select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string"))
        .alias("conv_id"),
        F.row_number().over(w).cast("int").alias("turn_idx"),
        F.lit("tool").alias("role"),
        F.when(F.col("o_orderkey") % 13 == 0,
               F.lit("error: tool failed"))
        .otherwise(F.lit("ok result")).alias("text"),
        F.when(F.col("o_orderstatus") == "F", F.lit("search"))
        .when(F.col("o_orderstatus") == "O", F.lit("browse"))
        .otherwise(F.lit("code")).alias("tool"),
        (F.col("o_orderkey") * 60).cast("timestamp").alias("ts"))
    return tool_call_stats(tdf)


def _o_tool_stats(_: str) -> str:
    return """
    WITH t AS (
        SELECT 'c' || o_custkey AS conv,
               o_orderkey * 60 AS ts,
               CASE o_orderstatus WHEN 'F' THEN 'search'
                    WHEN 'O' THEN 'browse' ELSE 'code' END AS tool,
               (o_orderkey % 13 = 0) AS err,
               LEAD(o_orderkey * 60) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderkey)
                   AS nxt
        FROM orders)
    SELECT tool,
           CAST(COUNT(*) AS BIGINT) AS n_calls,
           CAST(COUNT(DISTINCT conv) AS BIGINT) AS n_convs,
           CAST(SUM(CASE WHEN err THEN 1 ELSE 0 END)
                * CAST(1000000 AS BIGINT) // COUNT(*) AS BIGINT)
               AS err_ppm,
           CAST(COUNT(nxt) AS BIGINT) AS gap_turns,
           CAST(COALESCE(SUM(nxt - ts), 0) AS BIGINT)
               AS gap_sec_total
    FROM t GROUP BY tool
    """


def _q_kg_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL CONSTRUCT under the gate: match order→customer
    statements (a 1-hop bgp_path), then rewrite the bindings into
    an INVERTED vocabulary — cust hasOrder order, plus a type
    assertion per customer — the classic graph-to-graph reshape.
    The oracle enumerates both template rows from the base table."""
    from serd_spark.operators.kg import RDF_TYPE, bgp_construct, bgp_path

    orders = _t(spark, sf_dir, "orders")
    t = orders.select(
        F.concat(F.lit("urn:order:"), "o_orderkey").alias("s"),
        F.lit("urn:schema:cust").alias("p"),
        F.concat(F.lit("urn:cust:"), "o_custkey").alias("o"))
    b = bgp_path(t, ["urn:schema:cust"],
                 out_cols=("order_iri", "cust_iri"))
    return bgp_construct(b, [
        ("cust_iri", ("lit", "urn:schema:hasOrder"), "order_iri"),
        ("cust_iri", ("lit", RDF_TYPE),
         ("lit", "urn:class:Customer")),
    ])


def _o_kg_construct(_: str) -> str:
    ty = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    return f"""
    SELECT DISTINCT s, p, o FROM (
        SELECT 'urn:cust:' || o_custkey AS s,
               'urn:schema:hasOrder' AS p,
               'urn:order:' || o_orderkey AS o FROM orders
        UNION ALL
        SELECT DISTINCT 'urn:cust:' || o_custkey, '{ty}',
               'urn:class:Customer' FROM orders
    )
    """


def _q_kg_ask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL ASK under the gate: a genuinely data-dependent probe
    (does any order carry status 'P'?)
    and a vocabulary-absent probe that must come back 0; the
    oracle mirrors with EXISTS."""
    from serd_spark.operators.kg import bgp_ask

    orders = _t(spark, sf_dir, "orders")
    t = orders.select(
        F.concat(F.lit("urn:order:"), "o_orderkey").alias("s"),
        F.lit("urn:schema:status").alias("p"),
        F.col("o_orderstatus").alias("o"))
    pos = bgp_ask(t, "urn:schema:status", o="P") \
        .withColumn("probe", F.lit("status_p"))
    neg = bgp_ask(t, "urn:schema:nope") \
        .withColumn("probe", F.lit("absent_pred"))
    return pos.unionByName(neg)


def _o_kg_ask(_: str) -> str:
    return """
    SELECT CAST(CASE WHEN EXISTS(
               SELECT 1 FROM orders WHERE o_orderstatus = 'P')
           THEN 1 ELSE 0 END AS BIGINT) AS ask,
           'status_p' AS probe
    UNION ALL
    SELECT CAST(0 AS BIGINT), 'absent_pred'
    """


def _q_kg_named_graphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NQuads named-graph parse under the exact gate — the first
    driver row exercising the ``g`` column AND the O-3 syntax
    dispatch (``parse_documents(syntax="nquads")`` routes to the
    vectorized line parser; the Turtle grammar would quarantine
    every graph label).  Each order's statement is published into
    the graph named after its status; every 4th order also asserts
    a default-graph (no label) triple.  The census groups by graph
    — NULL g = the default graph — counting statements and distinct
    subjects; the oracle reconstructs both from orders directly."""
    from serd_spark.operators.parse import (
        parse_documents,
        split_quarantine,
    )

    orders = _t(spark, sf_dir, "orders")
    line = F.concat(
        F.lit("<urn:order:"), "o_orderkey",
        F.lit("> <urn:schema:cust> <urn:cust:"), "o_custkey",
        F.lit("> <urn:graph:"), "o_orderstatus", F.lit("> ."),
        F.when(F.col("o_orderkey") % 4 == 0, F.concat(
            F.lit("\n<urn:order:"), "o_orderkey",
            F.lit("> <urn:schema:prio> \""), "o_orderpriority",
            F.lit("\" ."))).otherwise(F.lit("")))
    tdf = orders.select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string"))
        .alias("conv_id"),
        F.col("o_orderkey").cast("int").alias("turn_idx"),
        F.lit("tool").alias("role"), line.alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"))
    from serd_spark.operators.util import spread

    # NQ routes to the shuffle-free line parser: spread the one-split
    # orders scan so the parse stage is core-parallel (guide §2.5)
    t, _ = split_quarantine(parse_documents(spread(tdf),
                                            syntax="nquads"))
    return t.groupBy(
        F.coalesce(F.col("g"), F.lit("default")).alias("graph_iri")
    ).agg(
        F.count("*").cast("long").alias("n_triples"),
        F.countDistinct("s").cast("long").alias("n_subjects"))


def _o_kg_named_graphs(_: str) -> str:
    return """
    SELECT 'urn:graph:' || o_orderstatus AS graph_iri,
           CAST(COUNT(*) AS BIGINT) AS n_triples,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_subjects
    FROM orders GROUP BY o_orderstatus
    UNION ALL
    SELECT 'default',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT)
    FROM orders WHERE o_orderkey % 4 = 0
    """


def _q_kg_rdfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDFS forward-chaining materialization under the exact gate:
    a 5-statement ontology (cust ⊑p party with domain Order /
    range Customer, and the class chain Customer ⊑ Agent ⊑ Party)
    over the order→customer statements.  The entailed graph the
    oracle must reproduce: every original + the rdfs7 property
    lift, the rdfs2/3 type assertions, and the TRANSITIVE rdfs9
    class lifts — enumerated in SQL by construction, no inference
    machinery on the oracle side."""
    from serd_spark.operators.kg import (
        NS_RDFS,
        rdfs_entailment,
    )

    orders = _t(spark, sf_dir, "orders")
    data = orders.select(
        F.concat(F.lit("urn:order:"), "o_orderkey").alias("s"),
        F.lit("urn:schema:cust").alias("p"),
        F.concat(F.lit("urn:cust:"), "o_custkey").alias("o"))
    tbox = spark.createDataFrame([
        ("urn:schema:cust", NS_RDFS + "subPropertyOf",
         "urn:schema:party"),
        ("urn:schema:cust", NS_RDFS + "domain", "urn:class:Order"),
        ("urn:schema:cust", NS_RDFS + "range", "urn:class:Customer"),
        ("urn:class:Customer", NS_RDFS + "subClassOf",
         "urn:class:Agent"),
        ("urn:class:Agent", NS_RDFS + "subClassOf",
         "urn:class:Party"),
    ], "s string, p string, o string")
    return rdfs_entailment(data.unionByName(tbox))


def _o_kg_rdfs(_: str) -> str:
    rdfs = "http://www.w3.org/2000/01/rdf-schema#"
    ty = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    return f"""
    WITH custs AS (SELECT DISTINCT o_custkey FROM orders)
    SELECT DISTINCT * FROM (
        SELECT 'urn:order:' || o_orderkey AS s,
               'urn:schema:cust' AS p,
               'urn:cust:' || o_custkey AS o FROM orders
        UNION ALL
        SELECT 'urn:order:' || o_orderkey, 'urn:schema:party',
               'urn:cust:' || o_custkey FROM orders
        UNION ALL
        SELECT 'urn:order:' || o_orderkey, '{ty}',
               'urn:class:Order' FROM orders
        UNION ALL
        SELECT 'urn:cust:' || o_custkey, '{ty}', cls
        FROM custs, (VALUES ('urn:class:Customer'),
                            ('urn:class:Agent'),
                            ('urn:class:Party')) c(cls)
        UNION ALL
        SELECT * FROM (VALUES
            ('urn:schema:cust', '{rdfs}subPropertyOf',
             'urn:schema:party'),
            ('urn:schema:cust', '{rdfs}domain', 'urn:class:Order'),
            ('urn:schema:cust', '{rdfs}range', 'urn:class:Customer'),
            ('urn:class:Customer', '{rdfs}subClassOf',
             'urn:class:Agent'),
            ('urn:class:Agent', '{rdfs}subClassOf',
             'urn:class:Party'),
            ('urn:class:Customer', '{rdfs}subClassOf',
             'urn:class:Party')) t(s, p, o)
    )
    """


def _kg_octree_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The orderkey-octree edge graph as (s, p, o) triples — the same
    genuinely data-dependent tree kg_reachability walks (edge
    floor(k/8) → k for every non-'P' order k ≥ 1: a missing edge
    prunes the whole subtree), IRI-minted so the quantified-path rows
    gate string-keyed plans like every other BGP row."""
    orders = _t(spark, sf_dir, "orders")
    return orders.where(
        (F.col("o_orderkey") >= 1) & (F.col("o_orderstatus") != "P")
    ).select(
        F.concat(F.lit("urn:n:"),
                 F.floor(F.col("o_orderkey") / 8).cast("long"))
        .alias("s"),
        F.lit("urn:schema:child").alias("p"),
        F.concat(F.lit("urn:n:"), "o_orderkey").alias("o"))


_KG_OCTREE_EDGES_SQL = """
        SELECT 'urn:n:' || CAST(o_orderkey // 8 AS BIGINT) AS src,
               'urn:n:' || o_orderkey AS dst
        FROM orders WHERE o_orderkey >= 1 AND o_orderstatus <> 'P'"""


def _q_kg_path_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL quantified path ``?a child{2,3} ?z`` under the exact
    gate: bounded repetition over the data-dependent orderkey octree
    (grandchildren and great-grandchildren of every node) — the
    fixed-range form between bgp_path's fixed chains and
    bfs_levels' seeded ``p+``.  The oracle enumerates length-2 and
    length-3 compositions directly (the tree is acyclic, so plain
    self-joins are exact)."""
    from serd_spark.operators.kg import bgp_path_quant

    t = _kg_octree_edges(spark, sf_dir)
    return bgp_path_quant(t, "urn:schema:child", 2, 3,
                          out_cols=("a", "z"))


def _o_kg_path_quant(_: str) -> str:
    return f"""
    WITH e AS ({_KG_OCTREE_EDGES_SQL})
    SELECT DISTINCT a, z FROM (
        SELECT e1.src AS a, e2.dst AS z
        FROM e e1 JOIN e e2 ON e1.dst = e2.src
        UNION ALL
        SELECT e1.src, e3.dst
        FROM e e1 JOIN e e2 ON e1.dst = e2.src
                  JOIN e e3 ON e2.dst = e3.src)
    """


def _q_kg_path_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL ``child*`` (reflexive-transitive closure, both ends
    unbound) under the exact gate: the visited-pair fixpoint plus the
    zero-length row binding every graph term to itself — the
    ``rdfs:subClassOf*`` query shape.  The oracle is a recursive CTE
    (acyclic tree) unioned with the term identity."""
    from serd_spark.operators.kg import bgp_path_quant

    t = _kg_octree_edges(spark, sf_dir)
    return bgp_path_quant(t, "urn:schema:child", 0, None,
                          out_cols=("a", "z"))


def _o_kg_path_star(_: str) -> str:
    return f"""
    WITH RECURSIVE e AS ({_KG_OCTREE_EDGES_SQL}),
    c AS (
        SELECT src AS a, dst AS z FROM e
        UNION ALL
        SELECT c.a, e.dst FROM c JOIN e ON c.z = e.src)
    SELECT a, z FROM (
        SELECT a, z FROM c
        UNION
        SELECT t AS a, t AS z FROM (
            SELECT src AS t FROM e UNION SELECT dst FROM e))
    """


def _q_kg_graph_scoped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GRAPH ?g { ?s :cust ?c . ?s :prio ?p }`` under the exact
    gate: parse an NQ quad corpus (every order publishes its cust +
    prio statements into the graph named after its status; every 3rd
    order ALSO asserts a decoy prio into a separate graph) and run
    the carry_graph star — both arms must co-match within ONE named
    graph, so the decoy graph (prio but no cust) binds nothing and
    cross-graph pairings never appear.  The oracle enumerates the
    surviving (g, s, cust, prio) rows from orders directly."""
    from serd_spark.operators.kg import bgp
    from serd_spark.operators.parse import (
        parse_documents,
        split_quarantine,
    )

    orders = _t(spark, sf_dir, "orders")
    line = F.concat(
        F.lit("<urn:order:"), "o_orderkey",
        F.lit("> <urn:schema:cust> <urn:cust:"), "o_custkey",
        F.lit("> <urn:graph:"), "o_orderstatus", F.lit("> .\n"),
        F.lit("<urn:order:"), "o_orderkey",
        F.lit("> <urn:schema:prio> \""), "o_orderpriority",
        F.lit("\" <urn:graph:"), "o_orderstatus", F.lit("> ."),
        F.when(F.col("o_orderkey") % 3 == 0, F.concat(
            F.lit("\n<urn:order:"), "o_orderkey",
            F.lit("> <urn:schema:prio> \"decoy\" <urn:graph:x> .")))
        .otherwise(F.lit("")))
    tdf = orders.select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string"))
        .alias("conv_id"),
        F.col("o_orderkey").cast("int").alias("turn_idx"),
        F.lit("tool").alias("role"), line.alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"))
    from serd_spark.operators.util import spread

    # spread before the shuffle-free NQ line parse — see
    # _q_kg_named_graphs (guide §2.5)
    t, _ = split_quarantine(parse_documents(spread(tdf),
                                            syntax="nquads"))
    # bgp reads the quad table once per pattern — materialize the
    # parse (the standard localCheckpoint stand-in, see kg_2hop) so
    # the star scans the triple table rather than re-running the
    # line parser per pattern
    return bgp(t.localCheckpoint(),
               [("?s", "urn:schema:cust", "?cust_iri"),
                ("?s", "urn:schema:prio", "?prio")], carry_graph=True)


def _o_kg_graph_scoped(_: str) -> str:
    return """
    SELECT 'urn:graph:' || o_orderstatus AS g,
           'urn:order:' || o_orderkey AS s,
           'urn:cust:' || o_custkey AS cust_iri,
           o_orderpriority AS prio
    FROM orders
    """


def _q_kg_minus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL MINUS under the exact gate: the status profile of
    every order MINUS the bindings of orders that carry a clerk —
    set subtraction on the shared ``?s`` (the clerked corpus is the
    with_clerk Turtle fixture, parsed by the real grammar), next to
    kg_not_exists' correlated-absence form of the same question.
    The oracle enumerates the surviving two status rows of every
    non-clerk (orderkey % 3 ≠ 0) order."""
    from serd_spark.operators.kg import bgp, bgp_minus

    t = _turtle_orders_cached(spark, sf_dir, with_clerk=True)
    left = bgp(t, [("?s", "urn:schema:status", "?status")])
    pattern = bgp(t, [("?s", "urn:schema:clerk", "?clerk")])
    return bgp_minus(left, pattern)  # shared variable set = {s}


def _o_kg_minus(_: str) -> str:
    return """
    SELECT 'urn:order:' || o_orderkey AS s,
           o_orderstatus AS status
    FROM orders WHERE o_orderkey % 3 <> 0
    UNION ALL
    SELECT 'urn:order:' || o_orderkey, 'p' || (o_orderkey % 5)
    FROM orders WHERE o_orderkey % 3 <> 0
    """


def _kg_triangle_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A triple corpus with a genuine CYCLE shape, parsed through the
    real Turtle parser over NT text — the fixture for the generic BGP
    composer's gate row.  Three edge types: every order points at its
    customer (``:cust``), every customer at its nation (``:nation``),
    and every order also asserts a direct ``:ships_to`` nation — the
    customer's real nation for EVEN orderkeys, a decoy IRI
    (``urn:nation:xN``, never a real nation) for odd ones.  The
    triangle pattern closes only on even orders, so a composer that
    drops the closing constraint (or joins the wrong variables)
    produces extra rows and hash-fails."""
    from pyspark.sql import Window

    from serd_spark.operators.parse import (
        parse_documents,
        split_quarantine,
    )

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    oc = orders.join(
        cust, orders.o_custkey == cust.c_custkey)
    ships = F.when(
        F.col("o_orderkey") % 2 == 0,
        F.concat(F.lit("<urn:nation:"), "c_nationkey", F.lit(">")),
    ).otherwise(
        F.concat(F.lit("<urn:nation:x"), "c_nationkey", F.lit(">")))
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    t1 = oc.select(
        F.concat(F.lit("t"), F.col("o_custkey").cast("string"))
        .alias("conv_id"),
        F.row_number().over(w).cast("int").alias("turn_idx"),
        F.lit("tool").alias("role"),
        F.concat(
            F.lit("<urn:order:"), "o_orderkey",
            F.lit("> <urn:schema:cust> <urn:cust:"), "o_custkey",
            F.lit("> .\n<urn:order:"), "o_orderkey",
            F.lit("> <urn:schema:ships_to> "), ships, F.lit(" ."),
        ).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"))
    t2 = cust.select(
        F.concat(F.lit("u"), F.col("c_custkey").cast("string"))
        .alias("conv_id"),
        F.lit(1).cast("int").alias("turn_idx"),
        F.lit("tool").alias("role"),
        F.concat(
            F.lit("<urn:cust:"), "c_custkey",
            F.lit("> <urn:schema:nation> <urn:nation:"), "c_nationkey",
            F.lit("> ."),
        ).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"))
    triples, _ = split_quarantine(parse_documents(t1.unionByName(t2)))
    return triples


def _q_kg_bgp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GENERIC BGP composer under the exact gate, on a pattern
    that is neither a star nor a chain — a star⋈chain with a CLOSING
    edge (triangle): ``?o :cust ?c . ?c :nation ?n . ?o :ships_to ?n``.
    Arms 1+3 share subject ``?o`` (a star), arm 2 chains ``?c``, and
    ``?n`` closes the cycle between the chain's end and the star's
    second arm (kg_star and kg_2hop run the plain star and chain
    shapes through the same ``bgp``).  The corpus's decoy ships_to
    edges (odd orders point at a nonexistent nation IRI) close no
    triangle, so the oracle enumerates exactly the even orders' rows
    by construction."""
    from serd_spark.operators.kg import bgp

    t = _cached_triples(spark, sf_dir, "triangle",
                        lambda: _kg_triangle_triples(spark, sf_dir))
    return bgp(t, [("?o", "urn:schema:cust", "?c"),
                   ("?c", "urn:schema:nation", "?n"),
                   ("?o", "urn:schema:ships_to", "?n")])


def _o_kg_bgp(_: str) -> str:
    return """
    SELECT DISTINCT 'urn:order:' || o_orderkey AS o,
           'urn:cust:' || o_custkey AS c,
           'urn:nation:' || c_nationkey AS n
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderkey % 2 = 0
    """


def _octree_quads_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The orderkey-octree edge corpus as NQ quads, parsed through
    the real NQ line parser and cached per session — each edge
    ``<urn:n:k//8> :child <urn:n:k>`` published into the graph named
    after its CHILD's key mod 3, so multi-hop paths usually cross
    graphs.  The ONE builder shared by ``kg_graph_path`` and
    ``kg_path_bgp`` (both cache under the same key, so a single
    definition keeps their gates order-independent)."""
    from serd_spark.operators.parse import (
        parse_documents,
        split_quarantine,
    )

    orders = _t(spark, sf_dir, "orders")
    line = F.concat(
        F.lit("<urn:n:"),
        F.floor(F.col("o_orderkey") / 8).cast("long"),
        F.lit("> <urn:schema:child> <urn:n:"), "o_orderkey",
        F.lit("> <urn:graph:"), F.col("o_orderkey") % 3,
        F.lit("> ."))
    tdf = orders.where(
        (F.col("o_orderkey") >= 1) & (F.col("o_orderstatus") != "P")
    ).select(
        F.concat(F.lit("q"), F.col("o_custkey").cast("string"))
        .alias("conv_id"),
        F.col("o_orderkey").cast("int").alias("turn_idx"),
        F.lit("tool").alias("role"), line.alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"))

    def build():
        from serd_spark.operators.util import spread

        # spread before the shuffle-free NQ line parse — see
        # _q_kg_named_graphs (guide §2.5)
        t, _ = split_quarantine(parse_documents(spread(tdf),
                                                syntax="nquads"))
        return t

    return _cached_triples(spark, sf_dir, "octree_quads", build)


def _q_kg_graph_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GRAPH ?g { ?a child+ ?z }`` under the exact gate: the
    orderkey-octree edges published as NQ quads, each edge into the
    graph named after its CHILD's key mod 3 — so multi-hop paths
    usually cross graphs and the per-graph closure is a strict
    subset of the global one (a closure that leaks across graphs
    produces extra rows and hash-fails).  Parses the quad corpus
    through the real NQ line parser, then runs the carry_graph
    transitive closure; the oracle is a graph-keyed recursive CTE
    over the same edges (acyclic tree, exact)."""
    from serd_spark.operators.kg import bgp_path_quant

    quads = _octree_quads_cached(spark, sf_dir)
    return bgp_path_quant(quads, "urn:schema:child", 1, None,
                          out_cols=("a", "z"), carry_graph=True)


def _o_kg_graph_path(_: str) -> str:
    return """
    WITH RECURSIVE e AS (
        SELECT 'urn:graph:' || (o_orderkey % 3) AS g,
               'urn:n:' || CAST(o_orderkey // 8 AS BIGINT) AS src,
               'urn:n:' || o_orderkey AS dst
        FROM orders WHERE o_orderkey >= 1 AND o_orderstatus <> 'P'),
    c AS (
        SELECT g, src AS a, dst AS z FROM e
        UNION ALL
        SELECT c.g, c.a, e.dst
        FROM c JOIN e ON c.g = e.g AND c.z = e.src)
    SELECT DISTINCT g, a, z FROM c
    """


def _q_kg_bgp_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL OPTIONAL on the generic composer, with a multi-pattern
    group no fixed verb expresses: ``?o :ships_to ?n OPTIONAL { ?o
    :cust ?c . ?c :nation ?n }`` — bind the customer only when the
    shipping nation IS that customer's nation.  Even orders ship to
    the real nation (group matches, ``c`` bound); odd orders ship to
    the decoy IRI (group empty, ``c`` NULL) — so the gate hashes both
    the fan-in join inside the group and the NULL-preserving left
    join, on the same cached triangle corpus as ``kg_bgp``."""
    from serd_spark.operators.kg import bgp

    t = _cached_triples(spark, sf_dir, "triangle",
                        lambda: _kg_triangle_triples(spark, sf_dir))
    return bgp(t, [("?o", "urn:schema:ships_to", "?n")],
               optional=[[("?o", "urn:schema:cust", "?c"),
                          ("?c", "urn:schema:nation", "?n")]])


def _o_kg_bgp_optional(_: str) -> str:
    return """
    SELECT DISTINCT 'urn:order:' || o_orderkey AS o,
           CASE WHEN o_orderkey % 2 = 0
                THEN 'urn:nation:' || c_nationkey
                ELSE 'urn:nation:x' || c_nationkey END AS n,
           CASE WHEN o_orderkey % 2 = 0
                THEN 'urn:cust:' || o_custkey END AS c
    FROM orders JOIN customer ON o_custkey = c_custkey
    """


def _q_kg_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL UNION under the exact gate, with DIFFERING variable
    sets per branch: ``{ ?o :cust ?c } UNION { ?o :ships_to ?n }`` —
    branch 1 binds (o, c), branch 2 binds (o, n), so the output
    aligns by name with NULL (SPARQL's unbound) in the other
    branch's column.  Hashes the alignment itself: a union that
    matches columns positionally instead of by name scrambles c/n
    and hash-fails.  Same cached triangle corpus as ``kg_bgp``."""
    from serd_spark.operators.kg import bgp_union

    t = _cached_triples(spark, sf_dir, "triangle",
                        lambda: _kg_triangle_triples(spark, sf_dir))
    return bgp_union(t, [[("?o", "urn:schema:cust", "?c")],
                         [("?o", "urn:schema:ships_to", "?n")]])


def _o_kg_union(_: str) -> str:
    return """
    SELECT DISTINCT o, c, n FROM (
        SELECT 'urn:order:' || o_orderkey AS o,
               'urn:cust:' || o_custkey AS c,
               CAST(NULL AS VARCHAR) AS n
        FROM orders
        UNION ALL
        SELECT 'urn:order:' || o_orderkey,
               CAST(NULL AS VARCHAR),
               CASE WHEN o_orderkey % 2 = 0
                    THEN 'urn:nation:' || c_nationkey
                    ELSE 'urn:nation:x' || c_nationkey END
        FROM orders JOIN customer ON o_custkey = c_custkey)
    """


def _q_kg_filter_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL FILTER + FILTER EXISTS + FILTER NOT EXISTS on the
    generic composer, each clause load-bearing on the triangle
    corpus: ``?o :cust ?c . ?c :nation ?n`` keeping only solutions
    where the order does NOT ship to the customer's nation (NOT
    EXISTS — removes the even orders, whose ships_to edge closes the
    triangle), where SOME order ships to that nation (EXISTS — the
    semi join; decoy IRIs never match a real nation), where a plain
    FILTER prunes one nation constant, and a BIND computes a
    ``?pair`` key from two bound variables (the projection-only
    assignment).  A composer that misroutes any clause (anti for
    semi, filter before the left join, NULL-key leak, BIND over the
    wrong columns) changes the row set and hash-fails."""
    from serd_spark.operators.kg import bgp

    t = _cached_triples(spark, sf_dir, "triangle",
                        lambda: _kg_triangle_triples(spark, sf_dir))
    return bgp(t, [("?o", "urn:schema:cust", "?c"),
                   ("?c", "urn:schema:nation", "?n")],
               not_exists=[[("?o", "urn:schema:ships_to", "?n")]],
               exists=[[("?x", "urn:schema:ships_to", "?n")]],
               filters=["n <> 'urn:nation:3'"],
               bind={"pair": "concat(c, '/', n)"})


def _o_kg_filter_exists(_: str) -> str:
    return """
    SELECT DISTINCT 'urn:order:' || o_orderkey AS o,
           'urn:cust:' || o_custkey AS c,
           'urn:nation:' || c_nationkey AS n,
           'urn:cust:' || o_custkey || '/urn:nation:' || c_nationkey
               AS pair
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderkey % 2 = 1
      AND 'urn:nation:' || c_nationkey <> 'urn:nation:3'
      AND EXISTS (SELECT 1 FROM orders o2
                  JOIN customer c2 ON o2.o_custkey = c2.c_custkey
                  WHERE o2.o_orderkey % 2 = 0
                    AND c2.c_nationkey = customer.c_nationkey)
    """


def _q_kg_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL aggregation over the composer under the exact gate:
    per-nation rollup of the triangle corpus — ``SELECT ?n (COUNT(*)
    …) (COUNT(DISTINCT ?c) …) (MAX(?c) …) WHERE { ?o :cust ?c . ?c
    :nation ?n } GROUP BY ?n HAVING n_cust > 1``.  COUNT runs over
    the DISTINCT solution set (one row per order — the BGP multiset
    for this shape), COUNT DISTINCT exercises the two-phase distinct
    plan, MAX the term-ordering aggregate, HAVING the post-aggregate
    filter; any double-counting from a non-distinct solution join
    inflates n_orders and hash-fails."""
    from serd_spark.operators.kg import bgp_agg

    t = _cached_triples(spark, sf_dir, "triangle",
                        lambda: _kg_triangle_triples(spark, sf_dir))
    return bgp_agg(t, [("?o", "urn:schema:cust", "?c"),
                       ("?c", "urn:schema:nation", "?n")],
                   ["?n"],
                   {"n_orders": ("count",),
                    "n_cust": ("count_distinct", "?c"),
                    "top_cust": ("max", "?c")},
                   having="n_cust > 1")


def _o_kg_agg(_: str) -> str:
    return """
    SELECT 'urn:nation:' || c_nationkey AS n,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT 'urn:cust:' || o_custkey) AS n_cust,
           MAX('urn:cust:' || o_custkey) AS top_cust
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1
    HAVING COUNT(DISTINCT 'urn:cust:' || o_custkey) > 1
    """


def _q_kg_path_bgp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A PROPERTY-PATH ARM inside the generic composer — the SPARQL
    1.1 mixing no fixed verb expresses: ``?a child{2,3} ?z . ?z
    child ?l`` over the orderkey-octree edges (grand/great-grand
    descendants that themselves have a child).  The quantified arm
    runs as a pair-frontier join chain, the plain arm joins on its
    endpoint, and the oracle unrolls the same bounded repetition as
    chained CTEs; an off-by-one in the repetition window (including
    length-1 or length-4 paths) changes the row set and
    hash-fails."""
    from serd_spark.operators.kg import bgp

    quads = _octree_quads_cached(spark, sf_dir)
    return bgp(quads,
               [("?a", {"path": "urn:schema:child",
                        "min": 2, "max": 3}, "?z"),
                ("?z", "urn:schema:child", "?l")])


def _o_kg_path_bgp(_: str) -> str:
    return """
    WITH e AS (
        SELECT 'urn:n:' || CAST(o_orderkey // 8 AS BIGINT) AS src,
               'urn:n:' || o_orderkey AS dst
        FROM orders WHERE o_orderkey >= 1 AND o_orderstatus <> 'P'),
    p2 AS (SELECT x.src AS a, y.dst AS z
           FROM e x JOIN e y ON x.dst = y.src),
    p3 AS (SELECT p2.a, e.dst AS z FROM p2 JOIN e ON p2.z = e.src),
    pp AS (SELECT a, z FROM p2 UNION SELECT a, z FROM p3)
    SELECT DISTINCT pp.a, pp.z, e.dst AS l
    FROM pp JOIN e ON pp.z = e.src
    """


def _q_kg_sparql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SPARQL TEXT front-end under the exact gate: the query a
    reference-stack user would paste — the triangle conjunction with
    a FILTER — parsed from a string (PREFIX expansion, triple
    patterns, FILTER translation) and translated onto the composer,
    over the same cached triangle corpus as ``kg_bgp``.  Gates the
    whole text→plan path: a mis-parsed pattern, broken prefix
    expansion, or mistranslated FILTER changes the row set and
    hash-fails."""
    from serd_spark.sparql import sparql

    t = _cached_triples(spark, sf_dir, "triangle",
                        lambda: _kg_triangle_triples(spark, sf_dir))
    return sparql(t, """
        PREFIX s: <urn:schema:>
        SELECT ?o ?c ?n WHERE {
          ?o s:cust ?c .
          ?c s:nation ?n .
          ?o s:ships_to ?n .
          FILTER(?n != "urn:nation:5")
        }""")


def _o_kg_sparql(_: str) -> str:
    return """
    SELECT DISTINCT 'urn:order:' || o_orderkey AS o,
           'urn:cust:' || o_custkey AS c,
           'urn:nation:' || c_nationkey AS n
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderkey % 2 = 0
      AND 'urn:nation:' || c_nationkey <> 'urn:nation:5'
    """


def _o_kg_turtle_expand(_: str) -> str:
    return """
    SELECT 'urn:order:' || o_orderkey AS s,
           'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS p,
           'urn:schema:Order' AS o, 2 AS o_type
    FROM orders
    UNION ALL
    SELECT 'urn:order:' || o_orderkey, 'urn:schema:status',
           o_orderstatus, 1
    FROM orders
    UNION ALL
    SELECT 'urn:order:' || o_orderkey, 'urn:schema:status',
           'p' || (o_orderkey % 5), 1
    FROM orders
    UNION ALL
    SELECT 'urn:order:' || o_orderkey, 'urn:schema:cust',
           'urn:cust:' || o_custkey, 2
    FROM orders
    """


def _q_kg_parse_turtle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Turtle KG pipeline on the synthetic transcript corpus:
    Turtle parse → per-conv triple counts (single-pass
    metrics: the parse plan is evaluated once)."""
    from serd_spark.operators.canonicalize import conv_metrics_from_parsed
    from serd_spark.operators.parse import parse_documents
    from serd_spark.transcripts import transcripts_df

    tdf = transcripts_df(spark, 48, mega_every=16, mega_factor=20)
    return conv_metrics_from_parsed(
        parse_documents(tdf))


def _q_srp_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.similarity import srp_ann_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return srp_ann_topk(emb, queries, k=10, n_planes=5, n_tables=6)


def _q_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serd_spark.operators.similarity import ivf_ann_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return ivf_ann_topk(emb, queries, k=10, n_cells=16, n_probe=12)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry order = verification priority, NOT topic grouping.

    The external correctness gate records the FIRST 50 entries, so
    the dict is ordered least-recently-driver-verified first, and the
    window rotates every round: entries that sat below last round's
    window move to the front.  New queries insert at the TOP (they
    are the never-verified rows); pushing a verified entry past
    position 50 silently drops it from the external gate (the
    round-4 lesson).

    Round-8 window: (1) this round's eight never-driver-verified
    rows — the SPARQL text front-end (kg_sparql), the generic BGP
    composer (kg_bgp), its OPTIONAL groups (kg_bgp_optional), SPARQL
    UNION (kg_union), FILTER/EXISTS/NOT-EXISTS clauses
    (kg_filter_exists), aggregation with HAVING (kg_agg), a
    property-path arm inside the composer (kg_path_bgp), and the
    GRAPH-scoped transitive closure (kg_graph_path); (2) the
    predefined rotation: the 15 round-5-verified session/event rows
    then 27 of the 35 round-6-verified rows (exact_dedup, quality,
    ngram_jaccard, cosine_topk, winnowing, simhash, contamination
    and minhash_lsh retired, below — the retirements come OUT of the
    window section, so no surviving window row slips past position
    50).  Below the line: the 50 round-7-verified rows — the round-9
    window — so every live row's external verification stays ≤ 2
    rounds old (VERDICT r6 #8).

    Size policy (VERDICT r6 #8): the LIVE registry is capped at 100
    entries — two gate windows — so the rotation period never
    exceeds two rounds.  Long-stable basics past that budget retire
    to the pytest-only tier (:func:`retired_queries` /
    :func:`retired_oracle_sql`): still oracle-gated exact-equality
    in every pytest run and still measured by bench.py, but no
    longer eligible for driver rows.  Retired round 7 (each
    hash-green in the r4, r5 AND r6 driver gates, untouched since
    r2-r3): agg_pricing, broadcast_expand, anti_join_undefined,
    window_stmt_idx, explode_fanout, sorted_topk, join_revenue,
    set_ops, langid, fingerprint, token_counts, vocab_topk,
    stratified_sample, doc_profile, repetition.  Retired round 8
    (retire-on-add for kg_bgp/kg_graph_path, then
    kg_bgp_optional/kg_union, then kg_filter_exists/kg_agg/
    kg_path_bgp, then kg_sparql; each hash-green in four-plus driver
    gates spanning r1-r6): exact_dedup, quality, ngram_jaccard,
    cosine_topk, winnowing, simhash, contamination, minhash_lsh —
    every retiree's scale-path sibling stays live (prefix_jaccard,
    tfidf_cosine, winnowing_matches, simhash_pairs, semantic_decon,
    minhash_incremental, dedup_clusters, embedding_neardup)."""
    return {
        # -- (1) NEVER driver-verified: new this round ----------------
        "kg_sparql": _q_kg_sparql,
        "kg_bgp": _q_kg_bgp,
        "kg_bgp_optional": _q_kg_bgp_optional,
        "kg_union": _q_kg_union,
        "kg_filter_exists": _q_kg_filter_exists,
        "kg_agg": _q_kg_agg,
        "kg_path_bgp": _q_kg_path_bgp,
        "kg_graph_path": _q_kg_graph_path,
        # -- (2a) last verified round 5: session/event family ---------
        "sessionize": _q_sessionize,
        "funnel": _q_funnel,
        "rolling_revenue": _q_rolling_revenue,
        "corpus_diff": _q_corpus_diff,
        "error_rates": _q_error_rates,
        "value_outliers": _q_value_outliers,
        "profile_columns": _q_profile_columns,
        "quality_buckets": _q_quality_buckets,
        "role_transitions": _q_role_transitions,
        "retention": _q_retention,
        "props_stats": _q_props_stats,
        "shipping_priority": _q_shipping_priority,
        "late_shipping": _q_late_shipping,
        "region_rollup": _q_region_rollup,
        "status_pivot": _q_status_pivot,
        # -- (2b) last verified round 6 -------------------------------
        "nt_roundtrip": _q_nt_roundtrip,
        "dedup_keep_best": _q_dedup_keep_best,
        "minhash_incremental": _q_minhash_incremental,
        "dedup_clusters": _q_dedup_clusters,
        "cluster_reps": _q_cluster_reps,
        "cdc_spans": _q_cdc_spans,
        "dup_ngram": _q_dup_ngram,
        "embedding_neardup": _q_embedding_neardup,
        "tfidf_topk": _q_tfidf_topk,
        "bigram_pmi": _q_bigram_pmi,
        "source_quality": _q_source_quality,
        "pack_chunks": _q_pack_chunks,
        "stratified_take": _q_stratified_take,
        "langid_eval": _q_langid_eval,
        "pii_scrub": _q_pii_scrub,
        "clean_corpus": _q_clean_corpus,
        "domain_stats": _q_domain_stats,
        "domain_filter": _q_domain_filter,
        "compression_quality": _q_compression_quality,
        "bpe_tokens_real": _q_bpe_tokens_real,
        "embedding_quantize": _q_embedding_quantize,
        "kg_star": _q_kg_star,
        "kg_star_optional": _q_kg_star_optional,
        "kg_2hop_bucketed": _q_kg_2hop_bucketed,
        "kg_reachability": _q_kg_reachability,
        "kg_not_exists": _q_kg_not_exists,
        "kg_char_sets": _q_kg_char_sets,
        # ---- external gate window ends here (position 50) ----------
        # -- (3) round-7 driver-green: the round-9 window -------------
        "kg_path3": _q_kg_path3,
        "kg_values": _q_kg_values,
        "kg_triple_pr": _q_kg_triple_pr,
        "kg_path_alt": _q_kg_path_alt,
        "kg_sameas": _q_kg_sameas,
        "kg_delta": _q_kg_delta,
        "kg_named_graphs": _q_kg_named_graphs,
        "kg_rdfs": _q_kg_rdfs,
        "kg_apply_delta": _q_kg_apply_delta,
        "kg_describe": _q_kg_describe,
        "kg_construct": _q_kg_construct,
        "kg_ask": _q_kg_ask,
        "tool_stats": _q_tool_stats,
        "kg_path_quant": _q_kg_path_quant,
        "kg_path_star": _q_kg_path_star,
        "kg_graph_scoped": _q_kg_graph_scoped,
        "kg_minus": _q_kg_minus,
        "simhash_pairs": _q_simhash_pairs,
        "tfidf_cosine": _q_tfidf_cosine,
        "semantic_decon": _q_semantic_decon,
        "ivf_cells": _q_ivf_cells,
        "asof_attrib": _q_asof_attrib,
        "kg_entity_link": _q_kg_entity_link,
        "kg_comention": _q_kg_comention,
        "kg_substring_mentions": _q_kg_substring_mentions,
        "kg_parse_nt": _q_kg_parse_nt,
        "kg_parse_turtle": _q_kg_parse_turtle,
        "srp_ann": _q_srp_ann,
        "ivf_ann": _q_ivf_ann,
        "pagerank": _q_pagerank,
        "kg_entity_rank": _q_kg_entity_rank,
        "winnowing_matches": _q_winnowing_matches,
        "kg_2hop": _q_kg_2hop,
        "domain_cograph": _q_domain_cograph,
        "domain_rank": _q_domain_rank,
        "ffd_pack": _q_ffd_pack,
        "kg_turtle_expand": _q_kg_turtle_expand,
        "skew_join": _q_skew_join,
        "lpa_communities": _q_lpa_communities,
        "prefix_jaccard": _q_prefix_jaccard,
        "sliding_chunks": _q_sliding_chunks,
        "random_project": _q_random_project,
        "curation_pipeline": _q_curation_pipeline,
        "interval_join": _q_interval_join,
        "lm_heldout": _q_lm_heldout,
        "lm_score": _q_lm_score,
        "kg_relations": _q_kg_relations,
        "graph_degrees": _q_graph_degrees,
        "triangle_count": _q_triangle_count,
        "kcore": _q_kcore,
    }


def retired_queries() -> dict[str, Callable[[SparkSession, str],
                                            DataFrame]]:
    """The pytest-only tier (see :func:`queries` size policy): basics
    retired from the live registry after three-plus hash-green driver
    rounds with no source change since r2-r3 (the r7 retirees were
    green r4/r5/r6; the r8 retirees exact_dedup/quality/
    ngram_jaccard/cosine_topk were each green r1/r2/r3/r4/r6 —
    retire-on-add for kg_bgp/kg_graph_path/kg_bgp_optional/
    kg_union).
    Still exact-equality-gated by tests/test_entry_oracles.py and
    still in bench.py's HEADLINE; not eligible for driver rows."""
    return {
        "exact_dedup": _q_exact_dedup,
        "quality": _q_quality,
        "agg_pricing": _q_agg_pricing,
        "broadcast_expand": _q_broadcast_expand,
        "anti_join_undefined": _q_anti_join_undefined,
        "window_stmt_idx": _q_window_stmt_idx,
        "explode_fanout": _q_explode_fanout,
        "sorted_topk": _q_sorted_topk,
        "join_revenue": _q_join_revenue,
        "set_ops": _q_set_ops,
        "langid": _q_langid,
        "fingerprint": _q_fingerprint,
        "token_counts": _q_token_counts,
        "vocab_topk": _q_vocab_topk,
        "stratified_sample": _q_stratified_sample,
        "doc_profile": _q_doc_profile,
        "repetition": _q_repetition,
        "ngram_jaccard": _q_ngram_jaccard,
        "cosine_topk": _q_cosine_topk,
        "winnowing": _q_winnowing,
        "simhash": _q_simhash,
        "contamination": _q_contamination,
        "minhash_lsh": _q_minhash_lsh,
    }


def oracle_sql() -> dict[str, str]:
    sf = ""
    return {
        "kg_sparql": _o_kg_sparql(sf),
        "kg_bgp": _o_kg_bgp(sf),
        "kg_bgp_optional": _o_kg_bgp_optional(sf),
        "kg_union": _o_kg_union(sf),
        "kg_graph_path": _o_kg_graph_path(sf),
        "kg_filter_exists": _o_kg_filter_exists(sf),
        "kg_agg": _o_kg_agg(sf),
        "kg_path_bgp": _o_kg_path_bgp(sf),
        "nt_roundtrip": _o_nt_roundtrip(sf),
        "dedup_keep_best": _o_dedup_keep_best(sf),
        "minhash_incremental": _o_minhash_incremental(sf),
        "dedup_clusters": _o_dedup_clusters(sf),
        "cluster_reps": _o_cluster_reps(sf),
        "graph_degrees": _o_graph_degrees(sf),
        "pagerank": _o_pagerank(sf),
        "triangle_count": _o_triangle_count(sf),
        "kcore": _o_kcore(sf),
        "cdc_spans": _o_cdc_spans(sf),
        "tfidf_topk": _o_tfidf_topk(sf),
        "dup_ngram": _o_dup_ngram(sf),
        "bigram_pmi": _o_bigram_pmi(sf),
        "source_quality": _o_source_quality(sf),
        "kg_relations": _o_kg_relations(sf),
        "kg_entity_rank": _o_kg_entity_rank(sf),
        "langid_eval": _o_langid_eval(sf),
        "lm_score": _o_lm_score(sf),
        "winnowing_matches": _o_winnowing_matches(sf),
        "stratified_take": _o_stratified_take(sf),
        "pii_scrub": _o_pii_scrub(sf),
        "clean_corpus": _o_clean_corpus(sf),
        "domain_stats": _o_domain_stats(sf),
        "domain_filter": _o_domain_filter(sf),
        "domain_cograph": _o_domain_cograph(sf),
        "domain_rank": _o_domain_rank(sf),
        "kg_2hop": _o_kg_2hop(sf),
        "kg_turtle_expand": _o_kg_turtle_expand(sf),
        "skew_join": _o_skew_join(sf),
        "simhash_pairs": _o_simhash_pairs(sf),
        "embedding_quantize": _o_embedding_quantize(sf),
        "lpa_communities": _o_lpa_communities(sf),
        "kg_star": _o_kg_star(sf),
        "kg_star_optional": _o_kg_star_optional(sf),
        "kg_2hop_bucketed": _o_kg_2hop(sf),
        "kg_reachability": _o_kg_reachability(sf),
        "kg_not_exists": _o_kg_not_exists(sf),
        "kg_char_sets": _o_kg_char_sets(sf),
        "kg_path3": _o_kg_path3(sf),
        "kg_values": _o_kg_values(sf),
        "kg_triple_pr": _o_kg_triple_pr(sf),
        "kg_path_alt": _o_kg_path_alt(sf),
        "kg_sameas": _o_kg_sameas(sf),
        "kg_delta": _o_kg_delta(sf),
        "kg_named_graphs": _o_kg_named_graphs(sf),
        "kg_rdfs": _o_kg_rdfs(sf),
        "kg_apply_delta": _o_kg_apply_delta(sf),
        "kg_describe": _o_kg_describe(sf),
        "kg_construct": _o_kg_construct(sf),
        "kg_ask": _o_kg_ask(sf),
        "tool_stats": _o_tool_stats(sf),
        "kg_path_quant": _o_kg_path_quant(sf),
        "kg_path_star": _o_kg_path_star(sf),
        "kg_graph_scoped": _o_kg_graph_scoped(sf),
        "kg_minus": _o_kg_minus(sf),
        "prefix_jaccard": _o_prefix_jaccard(sf),
        "tfidf_cosine": _o_tfidf_cosine(sf),
        "shipping_priority": _o_shipping_priority(sf),
        "late_shipping": _o_late_shipping(sf),
        "region_rollup": _o_region_rollup(sf),
        "status_pivot": _o_status_pivot(sf),
        "sliding_chunks": _o_sliding_chunks(sf),
        "random_project": _o_random_project(sf),
        "curation_pipeline": _o_curation_pipeline(sf),
        "interval_join": _o_interval_join(sf),
        "lm_heldout": _o_lm_heldout(sf),
        "pack_chunks": _o_pack_chunks(sf),
        "embedding_neardup": _o_embedding_neardup(sf),
        "semantic_decon": _o_semantic_decon(sf),
        "ivf_cells": _o_ivf_cells(sf),
        "sessionize": _o_sessionize(sf),
        "funnel": _o_funnel(sf),
        "rolling_revenue": _o_rolling_revenue(sf),
        "corpus_diff": _o_corpus_diff(sf),
        "error_rates": _o_error_rates(sf),
        "value_outliers": _o_value_outliers(sf),
        "profile_columns": _o_profile_columns(sf),
        "quality_buckets": _o_quality_buckets(sf),
        "role_transitions": _o_role_transitions(sf),
        "retention": _o_retention(sf),
        "props_stats": _o_props_stats(sf),
        "asof_attrib": _o_asof_attrib(sf),
        "kg_entity_link": _o_kg_entity_link(sf),
        "kg_comention": _o_kg_comention(sf),
        "kg_substring_mentions": _o_kg_substring_mentions(sf),
        "kg_parse_nt": _o_kg_parse_nt(sf),
        # kg_parse_turtle, srp_ann, ivf_ann, ffd_pack,
        # compression_quality, bpe_tokens_real: non-SQL-expressible
        # (Turtle grammar / bucketed ANN / bin packing / zlib / BPE
        # merge loop; rows-only checks)
    }


def retired_oracle_sql() -> dict[str, str]:
    """Exact DuckDB oracles for the retired tier — consumed by the
    pytest gate (tests/test_entry_oracles.py merges live + retired),
    kept out of :func:`oracle_sql` so the driver's window math sees
    only live rows."""
    sf = ""
    return {
        "exact_dedup": _o_exact_dedup(sf),
        "quality": _o_quality(sf),
        "agg_pricing": _o_agg_pricing(sf),
        "broadcast_expand": _o_broadcast_expand(sf),
        "anti_join_undefined": _o_anti_join_undefined(sf),
        "window_stmt_idx": _o_window_stmt_idx(sf),
        "explode_fanout": _o_explode_fanout(sf),
        "sorted_topk": _o_sorted_topk(sf),
        "join_revenue": _o_join_revenue(sf),
        "set_ops": _o_set_ops(sf),
        "langid": _o_langid(sf),
        "fingerprint": _o_fingerprint(sf),
        "token_counts": _o_token_counts(sf),
        "vocab_topk": _o_vocab_topk(sf),
        "stratified_sample": _o_stratified_sample(sf),
        "doc_profile": _o_doc_profile(sf),
        "repetition": _o_repetition(sf),
        "ngram_jaccard": _o_ngram_jaccard(sf),
        "cosine_topk": _o_cosine_topk(sf),
        "winnowing": _o_winnowing(sf),
        "simhash": _o_simhash(sf),
        "contamination": _o_contamination(sf),
        "minhash_lsh": _o_minhash_lsh(sf),
    }
