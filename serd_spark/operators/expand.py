"""Cross-corpus CURIE expansion as broadcast joins.

The per-document Env fold (env.py) handles document-order semantics
inside the parse, including prefix upsert (O-19, ``Env.set_prefix``)
and qualification (O-21, ``Env.qualify``); these operators are the
*corpus-scale* variant of expansion (SURVEY.md O-18): a prefixes
dimension table is broadcast to every executor — no shuffle of the
(huge) triples side.

prefixes table schema: (name string, uri string) — one row per name.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def expand_curies(
    terms: DataFrame, prefixes: DataFrame, term_col: str = "curie"
) -> DataFrame:
    """Split ``prefix:local`` at the first ':', broadcast-join the
    prefix map, concat namespace + local (serd_env_expand)."""
    split_at = F.instr(F.col(term_col), ":")
    with_parts = terms.withColumn(
        "_name", F.expr(f"substring({term_col}, 1, instr({term_col}, ':') - 1)")
    ).withColumn(
        "_local", F.expr(f"substring({term_col}, instr({term_col}, ':') + 1)")
    ).withColumn("_has_colon", split_at > 0)
    joined = with_parts.join(
        F.broadcast(prefixes.select(F.col("name").alias("_name"),
                                    F.col("uri").alias("_ns"))),
        "_name", "left")
    return (
        joined.withColumn(
            "iri",
            F.when(F.col("_has_colon") & F.col("_ns").isNotNull(),
                   F.concat(F.col("_ns"), F.col("_local"))))
        .drop("_name", "_local", "_ns", "_has_colon")
    )


def undefined_prefixes(
    terms: DataFrame, prefixes: DataFrame, term_col: str = "curie"
) -> DataFrame:
    """Left-anti join: terms whose prefix has no binding
    (SERD_ERR_BAD_CURIE detection as a relational op)."""
    names = terms.withColumn(
        "_name",
        F.expr(f"substring({term_col}, 1, instr({term_col}, ':') - 1)"))
    return (
        names.join(
            F.broadcast(prefixes.select(F.col("name").alias("_name"))),
            "_name", "left_anti")
        .drop("_name")
    )
