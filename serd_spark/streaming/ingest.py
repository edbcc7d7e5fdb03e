"""Incremental transcript ingest via Structured Streaming.

The reference's chunked reader (serd_reader_read_chunk,
reader.c:380-408) parses one statement group per call for pipe/socket
use.  Here one ``foreachBatch`` loop runs the batch parse,
:func:`parse_documents`, on each micro-batch, so the sink's rows are
the batch pass's rows, with the same ids.

No parse state survives from one micro-batch to the next: a
Turtle/TriG conversation's Env (prefixes, base) and its blank and
statement numbering start over in every batch.  So a conversation
parses right only when one micro-batch holds all of it, and that rule
is checked, not assumed.  A conversation whose turns in a batch are
not exactly ``0..n-1`` is not parsed in that batch; one quarantine row
naming its turn range goes to the ``errors`` sink instead (serd's lax
contract, O-17).  Land whole conversations per file to stay inside
the rule.  NTriples/NQuads carry no state across lines, so they are
not checked.
"""

from __future__ import annotations

from pyspark.sql import (
    DataFrame,
    Observation,
    SparkSession,
    Window,
    functions as F,
)

from ..operators.parse import colocate, parse_documents, split_quarantine
from ..transcripts import TRANSCRIPT_SCHEMA


def stream_transcripts(spark: SparkSession, input_path: str) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_path)
    )


def start_incremental_parse(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    syntax: str = "turtle",
    available_now: bool = True,
):
    """foreachBatch: each micro-batch is parsed once with the batch
    pass and appended to ``{output_path}/triples`` and
    ``{output_path}/errors``.

    For Turtle/TriG, one window aggregate per conversation, in the
    parse's own stage, finds the conversations the batch holds whole,
    turns ``0..n-1`` (``min(turn_idx) = 0`` and ``count = max(turn_idx)
    + 1``); only those are parsed.  An observation brings the others
    back to the driver, and each gets one error row with ``err_idx =
    -1`` (parse ids are never negative) and the batch's turn range in
    ``err``.

    The parsed batch is materialized once for the two writes and
    released before ``handle`` returns.  Delivery is at-least-once: a
    batch replayed after a crash between its appends and its
    checkpoint commit appends its rows again."""
    stream = stream_transcripts(spark, input_path)
    guarded = syntax not in ("ntriples", "nquads")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        held = None
        if guarded:
            # colocate() is the parse's own Exchange and sort, so the
            # window and the observation ride the parse stage
            conv = Window.partitionBy("conv_id")
            turns = colocate(batch_df).select(
                "*", F.min("turn_idx").over(conv).alias("_lo"),
                F.max("turn_idx").over(conv).alias("_hi"),
                F.count("*").over(conv).alias("_n"))
            whole = F.coalesce(
                (F.col("_lo") == 0) & (F.col("_n") == F.col("_hi") + 1),
                F.lit(False))
            held = Observation()
            batch_df = (
                turns.observe(held, F.collect_set(F.when(
                    ~whole, F.struct("conv_id", "_lo", "_hi", "_n")))
                    .alias("convs"))
                .where(whole).drop("_lo", "_hi", "_n"))
        parsed = parse_documents(batch_df, syntax=syntax, lax=True) \
            .localCheckpoint()
        try:
            triples, errors = split_quarantine(parsed)
            convs = held.get["convs"] if held is not None else []
            if convs:
                errors = errors.unionByName(spark.createDataFrame(
                    [(c, -1, f"micro-batch holds turns {lo}..{hi} ({n} rows),"
                      " not the whole conversation: not parsed")
                     for c, lo, hi, n in convs], errors.schema))
            triples.write.mode("append").parquet(f"{output_path}/triples")
            errors.write.mode("append").parquet(f"{output_path}/errors")
        finally:
            # a localCheckpoint's blocks are freed through its RDD only
            parsed._jdf.queryExecution().analyzed().rdd().unpersist(False)

    writer = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
