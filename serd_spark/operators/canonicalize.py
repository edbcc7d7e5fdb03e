"""Canonicalization stage (O-13 salt / O-24 prep / node interning).

- ``dedup_triples``: exact duplicate elimination on the full quad key,
  a ``row_number`` window whose keys lead with ``SORT_KEY``, so a
  range partitioning on ``SORT_KEY`` serves it and its local sort is
  also the canonical output order (``materialize.sorted_nquads``).
- ``nquads_line_col``: canonical NQuads spelling as a JVM-side column
  expression — whole-stage-codegen string ops, no Python in the hot
  path.  Parser-emitted IRIs are escape-free by construction (forbidden
  chars are rejected at parse time), so only literal bodies need the
  escape chain.
- ``intern_nodes``: dictionary-encode terms into a nodes table +
  id-based triples (serd's stack interning re-expressed as a join
  table; shrinks shuffle width for downstream stages).
- ``conv_metrics_from_parsed``: per-conversation lineage metrics, the
  triples each conversation emitted and its quarantined errors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

# The canonical output order; the quad key is it plus s_type.
SORT_KEY = ["g", "s", "p", "o", "o_type", "o_datatype", "o_lang"]
QUAD_COLS = SORT_KEY + ["s_type"]


def dedup_triples(triples: DataFrame) -> DataFrame:
    """Distinct on the quad key, keeping the smallest
    ``(conv_id, stmt_idx)`` for stable lineage (deterministic across
    retries/partitionings)."""
    w = Window.partitionBy(*QUAD_COLS).orderBy("conv_id", "stmt_idx")
    return (
        triples.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= 1)
        .drop("_rn")
    )


def _escape_literal_col(c: Column) -> Column:
    # Order matters: backslash first (writer escape table, O-25).
    c = F.regexp_replace(c, r"\\", r"\\\\")
    c = F.regexp_replace(c, '"', '\\\\"')
    c = F.regexp_replace(c, "\n", r"\\n")
    c = F.regexp_replace(c, "\r", r"\\r")
    c = F.regexp_replace(c, "\t", r"\\t")
    return c


def term_col(value: Column, type_: Column, datatype: Column,
             lang: Column) -> Column:
    """Canonical term spelling (URI=2, BLANK=4, LITERAL=1)."""
    uri = F.concat(F.lit("<"), value, F.lit(">"))
    blank = F.concat(F.lit("_:"), value)
    body = F.concat(F.lit('"'), _escape_literal_col(value), F.lit('"'))
    literal = (
        F.when(lang.isNotNull(), F.concat(body, F.lit("@"), lang))
        .when(datatype.isNotNull(),
              F.concat(body, F.lit("^^<"), datatype, F.lit(">")))
        .otherwise(body)
    )
    return (
        F.when(type_ == F.lit(2), uri)
        .when(type_ == F.lit(4), blank)
        .otherwise(literal)
    )


def nquads_line_col(df: DataFrame) -> Column:
    """One canonical NQuads line per triple row (blank graph labels
    arrive as '_:...' and IRI graphs bare)."""
    s = term_col(F.col("s"),
                 F.col("s_type").cast("int"),
                 F.lit(None).cast("string"), F.lit(None).cast("string"))
    p = F.concat(F.lit("<"), F.col("p"), F.lit(">"))
    o = term_col(F.col("o"), F.col("o_type").cast("int"),
                 F.col("o_datatype"), F.col("o_lang"))
    g = (
        F.when(F.col("g").isNull(), F.lit(""))
        .when(F.col("g").startswith("_:"), F.concat(F.lit(" "), F.col("g")))
        .otherwise(F.concat(F.lit(" <"), F.col("g"), F.lit(">")))
    )
    return F.concat(s, F.lit(" "), p, F.lit(" "), o, g, F.lit(" ."))


def intern_nodes(triples: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Dictionary-encode terms: (nodes, triples_by_id).

    Node id = xxhash64 of the full term tuple — stable, computed
    map-side, no global counter (same determinism rule as blank ids).
    """
    def _node_slice(col, type_col, dt_col, lang_col):
        return (
            triples.select(
                F.col(col).alias("value"),
                F.col(type_col).cast("int").alias("type"),
                dt_col.alias("datatype"),
                lang_col.alias("lang"),
            )
        )

    null_s = F.lit(None).cast("string")
    nodes = (
        _node_slice("s", "s_type", null_s, null_s)
        .unionAll(triples.select(F.col("p").alias("value"),
                                 F.lit(2).alias("type"),
                                 null_s.alias("datatype"),
                                 null_s.alias("lang")))
        .unionAll(_node_slice("o", "o_type", F.col("o_datatype"),
                              F.col("o_lang")))
        .dropDuplicates(["value", "type", "datatype", "lang"])
        .withColumn(
            "node_id",
            F.xxhash64("value", "type", "datatype", "lang"))
    )
    tid = triples.select(
        "conv_id", "stmt_idx", "g",
        F.xxhash64("s", F.col("s_type").cast("int"), null_s,
                   null_s).alias("s_id"),
        F.xxhash64("p", F.lit(2), null_s, null_s).alias("p_id"),
        F.xxhash64("o", F.col("o_type").cast("int"), F.col("o_datatype"),
                   F.col("o_lang")).alias("o_id"),
    )
    return nodes, tid


def conv_metrics_from_parsed(parsed: DataFrame) -> DataFrame:
    """Per-conversation lineage metrics in ONE pass over the parsed
    (pre-quarantine-split) DataFrame: a single map-side-combined
    aggregation, no join.  ``n_triples`` counts the triples the
    conversation emitted, before the global dedup (which credits a
    quad shared by several conversations to the first
    ``(conv_id, stmt_idx)`` only); ``n_errors`` counts its quarantined
    errors."""
    return parsed.groupBy("conv_id").agg(
        F.count(F.when(F.col("err").isNull(), F.lit(1)))
        .alias("n_triples"),
        F.count("err").alias("n_errors"),
    )

