"""Canonicalization stage (O-13 salt / O-24 prep / node interning).

- ``dedup_triples``: exact duplicate elimination on the full quad key,
  a ``row_number`` window whose keys lead with ``SORT_KEY``, so a
  range partitioning on ``SORT_KEY`` serves it and its local sort is
  also the canonical output order (``materialize.sorted_nquads``).
- ``nquads_line_col``: canonical NQuads spelling as one SQL
  expression — whole-stage-codegen string ops, no Python in the hot
  path, and one py4j call to build.  Parser-emitted IRIs are
  escape-free by construction (forbidden chars are rejected at parse
  time), so only literal bodies need the escape chain, five literal
  ``replace`` steps.
- ``intern_nodes``: dictionary-encode terms into a nodes table +
  id-based triples (serd's stack interning re-expressed as a join
  table; shrinks shuffle width for downstream stages).
- ``conv_metrics_from_parsed``: per-conversation lineage metrics, the
  triples each conversation emitted and its quarantined errors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# The canonical output order; the quad key is it plus s_type.
SORT_KEY = ["g", "s", "p", "o", "o_type", "o_datatype", "o_lang"]
QUAD_COLS = SORT_KEY + ["s_type"]


# The expressions below are each one SQL string, built with one py4j
# call: every ``F.*`` call costs several round trips (PySpark captures
# its call site), and plan building runs on the driver's clock.
_FIRST_BY_QUAD = (
    f"row_number() OVER (PARTITION BY {', '.join(QUAD_COLS)} "
    f"ORDER BY conv_id, stmt_idx)")


def dedup_triples(triples: DataFrame) -> DataFrame:
    """Distinct on the quad key, keeping the smallest
    ``(conv_id, stmt_idx)`` for stable lineage (deterministic across
    retries/partitionings)."""
    return (
        triples.withColumn("_rn", F.expr(_FIRST_BY_QUAD))
        .where("_rn <= 1")
        .drop("_rn")
    )

# The writer's literal escape table (O-25), backslash first.  ``char``
# keeps backslashes out of the SQL text, whose string literals read
# differently under ``spark.sql.parser.escapedStringLiterals``.
_ESCAPES = [("char(92)", "char(92), char(92)"),
            ("'\"'", "char(92), '\"'"),
            ("char(10)", "char(92), 'n'"),
            ("char(13)", "char(92), 'r'"),
            ("char(9)", "char(92), 't'")]


def _term_sql(value: str, type_: str, suffix: str = "''") -> str:
    """Canonical term spelling (URI=2, BLANK=4, LITERAL=1); a literal
    is its escaped body plus ``suffix``."""
    body = value
    for char, escape in _ESCAPES:
        body = f"replace({body}, {char}, concat({escape}))"
    return (f"CASE CAST({type_} AS INT) "
            f"WHEN 2 THEN concat('<', {value}, '>') "
            f"WHEN 4 THEN concat('_:', {value}) "
            f"ELSE concat('\"', {body}, '\"', {suffix}) END")


# A language tag wins over a datatype; blank graph labels arrive as
# '_:...' and IRI graphs bare.
_NQUADS_LINE = (
    "concat("
    + _term_sql("s", "s_type")
    + ", ' <', p, '> ', "
    + _term_sql("o", "o_type",
                "CASE WHEN o_lang IS NOT NULL THEN concat('@', o_lang) "
                "WHEN o_datatype IS NOT NULL "
                "THEN concat('^^<', o_datatype, '>') ELSE '' END")
    + ", CASE WHEN g IS NULL THEN '' "
    "WHEN startswith(g, '_:') THEN concat(' ', g) "
    "ELSE concat(' <', g, '>') END, ' .')")


def nquads_line_col(df: DataFrame) -> Column:
    """One canonical NQuads line per triple row of ``df``."""
    return F.expr(_NQUADS_LINE)


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

