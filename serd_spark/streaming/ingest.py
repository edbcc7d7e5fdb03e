"""Incremental transcript ingest via Structured Streaming.

The reference's chunked reader (serd_reader_read_chunk,
/root/reference/src/reader.c:380-408) parses exactly one statement
group per call for pipe/socket use; the Spark re-expression is a
micro-batch ``foreachBatch`` loop running the same parse stages per
batch — state (Env fold, blank numbering) is re-derivable per
conversation because ids are pure functions of input coordinates, so
no keyed state store is needed for the parse itself.

``windowed_turn_counts`` adds the time-driven piece serd doesn't have
(serd is order-driven): watermark on ``ts`` for late turns + tumbling
per-conversation windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.parse import parse_documents, split_quarantine
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
    """foreachBatch: each micro-batch's conversations are parsed with
    the batch-mode stages and appended to the triples sink.  Exactly-
    once via the streaming checkpoint + idempotent (deterministic)
    output rows."""
    stream = stream_transcripts(spark, input_path)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        parsed = parse_documents(batch_df, syntax=syntax, lax=True)
        triples, errors = split_quarantine(parsed)
        triples.write.mode("append").parquet(f"{output_path}/triples")
        errors.write.mode("append").parquet(f"{output_path}/errors")

    writer = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_turn_counts(
    transcripts: DataFrame, watermark: str = "10 minutes",
    window: str = "5 minutes",
) -> DataFrame:
    """Late-data-tolerant per-conversation turn counts in tumbling
    windows (works on both batch and streaming DataFrames)."""
    return (
        transcripts.withWatermark("ts", watermark)
        .groupBy("conv_id", F.window("ts", window).alias("w"))
        .agg(F.count("*").alias("n_turns"))
        .select("conv_id", F.col("w.start").alias("window_start"),
                "n_turns")
    )


def stateful_incremental_parse(
    transcripts: DataFrame,
    max_pending: int = 256,
    state_timeout_ms: int = 0,
) -> DataFrame:
    """Keyed-state incremental parse (the full serd_reader_read_chunk
    analogue, reader.c:380-408): conversations whose turns SPAN
    micro-batches keep their lexical state between batches.

    Per-conversation GroupState carries the folded Env (prefixes +
    chained base), the next expected turn index, a *bounded* buffer of
    out-of-order turns, and a chunk counter that keeps blank/stmt ids
    deterministic (pure offsets, like the batch Turtle pass).  Each
    batch parses maximal contiguous runs of turns — the per-turn
    statement-boundary invariant (FIXTURES.md F1) makes any turn
    boundary a safe chunk cut.

    Bounding (lax semantics, O-17 — bad input never stalls the job):

    - if more than ``max_pending`` turns are buffered waiting on a
      missing turn index, the gap is declared lost: a quarantine row
      records the skip and parsing resumes at the smallest buffered
      index, so a permanently missing turn cannot grow state forever;
    - ``state_timeout_ms`` > 0 sets a processing-time timeout: an idle
      conversation's state is reclaimed, with any still-buffered turns
      quarantined.  0 keeps state forever (exact, for bounded inputs
      like availableNow back-fills).

    Works on a streaming DataFrame (groupBy conv_id +
    applyInPandasWithState); emitted (s,p,o) sets are blank-bijective
    with the batch parse (test-enforced).
    """
    import json as _json

    import pandas as _pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.parse import (
        _COLS,
        _format_err,
        DEFAULT_BASE_TEMPLATE,
        PARSED_SCHEMA,
    )
    from ..turtle import TurtleParser

    STATE_SCHEMA = ("prefixes string, base string, next_turn int, "
                    "pending string, n_chunks int")
    GAP_BIT = 1 << 50  # marks synthetic gap/timeout quarantine rows

    def handle(key, pdfs, state: GroupState):
        conv_id = key[0]
        if state.exists:
            prefixes_j, base, next_turn, pending_j, n_chunks = state.get
        else:
            prefixes_j, base, next_turn, pending_j, n_chunks = (
                None, None, 0, None, 0)
        pending = ({int(k): v for k, v in _json.loads(pending_j).items()}
                   if pending_j else {})

        if state_timeout_ms and getattr(state, "hasTimedOut", False):
            rows = [
                (conv_id, GAP_BIT | (2 << 48), None, None, None, None,
                 None, None, None, None,
                 f"state timeout: {len(pending)} buffered turn(s) "
                 f"{sorted(pending)[:8]} never parsed (expected turn "
                 f"{next_turn})")
            ] if pending else []
            state.remove()
            if rows:
                yield _pd.DataFrame(rows, columns=_COLS)
            return

        for pdf in pdfs:
            for turn_idx, text in zip(pdf["turn_idx"].values,
                                      pdf["text"].values):
                pending[int(turn_idx)] = text

        rows: list[tuple] = []
        runs: list[tuple[int, list[str]]] = []  # (start_turn, texts)
        while True:
            start = next_turn
            run: list[str] = []
            while next_turn in pending:
                run.append(pending.pop(next_turn))
                next_turn += 1
            if run:
                runs.append((start, run))
            if len(pending) <= max_pending:
                break
            # Buffer cap exceeded: the gap at next_turn is declared
            # lost; quarantine the skip and resume at the smallest
            # buffered turn (drop-past-N, bounded memory).
            skip_to = min(pending)
            rows.append(
                (conv_id, GAP_BIT | next_turn, None, None, None, None,
                 None, None, None, None,
                 f"turn gap: expected turn {next_turn}, buffer cap "
                 f"{max_pending} exceeded; skipping to turn {skip_to}"))
            next_turn = skip_to

        for start_turn, run in runs:
            base_uri = base or DEFAULT_BASE_TEMPLATE.format(conv_id=conv_id)
            text = "\n".join(run)
            turn_lens = [(start_turn + i, len(t))
                         for i, t in enumerate(run)]
            parser = TurtleParser(
                text,
                base_uri=base_uri,
                blank_prefix=f"{conv_id}-",
                lax=True,
                init_prefixes=(_json.loads(prefixes_j)
                               if prefixes_j else None),
                blank_offset=n_chunks << 32,
            )
            triples, errors = parser.parse()
            stmt_offset = n_chunks << 40
            rows.extend(
                (conv_id, stmt_offset + i, t.g, t.s, t.s_type, t.p,
                 t.o, t.o_type, t.o_datatype, t.o_lang, None)
                for i, t in enumerate(triples)
            )
            n_t = len(triples)
            rows.extend(
                (conv_id, stmt_offset + n_t + j, None, None, None, None,
                 None, None, None, None,
                 _format_err(pos, msg, text, turn_lens))
                for j, (pos, msg) in enumerate(errors)
            )
            prefixes_j = _json.dumps(parser.env.prefixes)
            base = parser.env.base_uri
            n_chunks += 1

        state.update((prefixes_j, base, int(next_turn),
                      _json.dumps(pending) if pending else None,
                      int(n_chunks)))
        if state_timeout_ms:
            state.setTimeoutDuration(state_timeout_ms)
        if rows:
            yield _pd.DataFrame(rows, columns=_COLS)

    return (
        transcripts.groupBy("conv_id")
        .applyInPandasWithState(
            handle,
            outputStructType=PARSED_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=(GroupStateTimeout.ProcessingTimeTimeout
                         if state_timeout_ms
                         else GroupStateTimeout.NoTimeout),
        )
    )


def streaming_exact_dedup(
    transcripts: DataFrame, watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: drop turns whose text content was
    already seen within the watermark window
    (``dropDuplicatesWithinWatermark`` — state is bounded by the
    watermark instead of growing forever like plain
    ``dropDuplicates`` on a stream).  The batch analogue is
    ``operators/dedup.exact_dedup``; this is its ingest-time form —
    dedup before the parse so duplicate conversations never cost
    parse work."""
    return (
        transcripts.withWatermark("ts", watermark)
        .withColumn("content_hash", F.md5(F.col("text")))
        .dropDuplicatesWithinWatermark(["content_hash"])
    )


def start_streaming_contamination(
    stream: DataFrame, eval_docs: DataFrame, sink,
    text_col: str = "text", shingle_k: int = 3,
    checkpoint_path: str | None = None, available_now: bool = True,
):
    """Streaming benchmark decontamination: the ``foreachBatch`` form
    of ``operators.dedup.contamination_flags`` — flag arriving
    documents that share a k-shingle with the (static) eval/benchmark
    set as they land, instead of re-scanning the whole corpus per
    crawl drop.

    The eval shingle set is computed ONCE at stream start and cached;
    every micro-batch broadcast-joins against the cached set (a
    broadcast rebuild from cache per batch — no eval re-shingle, no
    corpus shuffle; the batch side is map-side explode → broadcast
    join → per-doc agg, identical to the batch operator, which is why
    stream-vs-batch equality is exact and test-enforced).

    ``sink(flags_df, batch_id)`` receives each batch's (doc_id,
    n_hits) output — write to the quarantine table / metrics there.
    Returns the started StreamingQuery."""
    from ..operators.dedup import contamination_flags, eval_shingle_set

    ev = eval_shingle_set(eval_docs, text_col, shingle_k).cache()
    ev.count()  # materialize before the first batch

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        sink(contamination_flags(batch_df, text_col=text_col,
                                 eval_shingles=ev), batch_id)

    writer = stream.writeStream.foreachBatch(handle)
    if checkpoint_path:
        writer = writer.option("checkpointLocation", checkpoint_path)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_streaming_quality_gate(
    stream: DataFrame, sink, text_col: str = "text",
    min_quality: float = 0.5, lang: str = "en",
    max_dup_2gram: float = 0.5,
    checkpoint_path: str | None = None, available_now: bool = True,
):
    """Streaming quality gate: the ``foreachBatch`` form of
    ``operators.text.clean_corpus`` — score and filter documents as
    they land (crawl ingest, transcript tail) instead of re-scanning
    the accumulated corpus per drop.

    Because every clean_corpus predicate is a PER-ROW column
    expression riding one projection (language vote, quality score,
    2-gram repetition, PII count — no corpus-level state at all), the
    micro-batch output is exactly the batch operator applied to the
    batch's rows: stream-over-any-split == batch, test-enforced.
    That also makes the gate embarrassingly scalable — no state
    store, no shuffle, each executor gates its own partition slice.

    ``sink(clean_df, batch_id)`` receives each batch's surviving
    (doc_id, lang_pred, quality_score, dup_2gram_frac, n_email) rows
    — write to the curated table / metrics there.  Returns the
    started StreamingQuery."""
    from ..operators.text import clean_corpus

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        sink(clean_corpus(batch_df, text_col=text_col,
                          min_quality=min_quality, lang=lang,
                          max_dup_2gram=max_dup_2gram), batch_id)

    writer = stream.writeStream.foreachBatch(handle)
    if checkpoint_path:
        writer = writer.option("checkpointLocation", checkpoint_path)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_sessionize(
    stream: DataFrame, gap_sec: int = 1800, watermark: str = "1 hour",
    key_col: str = "user_id", ts_col: str = "ts",
):
    """Streaming sessionization via Spark's native ``session_window``:
    per-key sessions close when no event arrives within ``gap_sec``,
    with watermark-bounded state — the streaming form of
    ``operators.sessions.sessionize`` (whose gaps-and-islands batch
    formulation is test-equivalent to ``session_window``).

    Output: (key, start_ep, end_ep, n_events) as epoch seconds —
    ``end_ep`` is the session's last EVENT time (``window.end`` minus
    the gap, matching the batch operator's ``end_ep``), so
    stream-over-replay equals batch exactly for every session the
    watermark has closed (append mode only emits closed sessions;
    the equality test flushes trailing sessions with sentinel
    events past the watermark horizon).

    Scale/state shape: state is one open session per active key
    (bounded by the watermark), merged map-side by the session-window
    aggregation; no custom stateful UDF needed."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.col(key_col).alias("key"),
            F.session_window(F.col(ts_col), f"{gap_sec} seconds")
            .alias("w"))
        .agg(F.count("*").cast("long").alias("n_events"))
        .select(
            "key",
            F.round(F.col("w.start").cast("double"), 6)
            .alias("start_ep"),
            F.round(F.col("w.end").cast("double") - gap_sec, 6)
            .alias("end_ep"),
            "n_events")
    )


def start_streaming_interval_enrich(
    stream: DataFrame, intervals: DataFrame, sink,
    key_col: str = "user_id", ts_col: str = "ts",
    start_col: str = "start_ep", end_col: str = "end_ep",
    bucket_sec: int | None = None,
    checkpoint_path: str | None = None, available_now: bool = True,
):
    """Streaming interval enrichment: the ``foreachBatch`` form of
    ``operators.sessions.interval_join`` — each arriving event picks
    up the intervals (deploy windows, experiment assignments, closed
    sessions) of its key that contain its timestamp, as it lands,
    completing the streaming mirror of the sessions family next to
    the dedup/contamination/quality-gate/sessionize precedents.

    The interval side is the classic slowly-changing side input: it
    is cached ONCE at stream start and every micro-batch joins
    against the cached table (no interval re-scan per batch).
    Because the enrichment is a pure per-event join against that
    static side — no cross-batch state — the micro-batch output is
    exactly the batch operator applied to the batch's rows:
    stream-over-any-split == batch, test-enforced.  ``bucket_sec``
    passes through to the anti-cartesian time-bucketed form for
    huge per-key interval sets (results identical, test-enforced in
    the batch suite).

    ``sink(enriched_df, batch_id)`` receives each batch's enriched
    rows.  Returns the started StreamingQuery."""
    from ..operators.sessions import interval_join

    iv = intervals.cache()
    iv.count()  # materialize before the first batch

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        sink(interval_join(batch_df, iv, key_col=key_col,
                           ts_col=ts_col, start_col=start_col,
                           end_col=end_col, bucket_sec=bucket_sec),
             batch_id)

    writer = stream.writeStream.foreachBatch(handle)
    if checkpoint_path:
        writer = writer.option("checkpointLocation", checkpoint_path)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path, Path-class) for ``path`` via the JVM Hadoop
    FS API — scheme-aware (local/HDFS/object stores with a Hadoop
    connector), and the authoritative way to ask "does this path
    exist" instead of pattern-matching Spark's error MESSAGE text,
    which is not a stable API across versions or locales (ADVICE
    r7).  Classic (JVM-backed) sessions only, which is what this
    repo targets."""
    sc = spark.sparkContext
    pcls = sc._jvm.org.apache.hadoop.fs.Path
    hpath = pcls(path)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    return fs, hpath, pcls


def start_streaming_graph_delta(
    stream: DataFrame, snapshot: DataFrame, sink,
    checkpoint_path: str | None = None, available_now: bool = True,
    state_path: str | None = None, compact_every: int | None = 64,
):
    """Streaming KG ingestion with SET semantics: each micro-batch of
    asserted triples emits only the rows genuinely NEW relative to
    the baseline ``snapshot`` plus everything already streamed — the
    ``foreachBatch`` form of :func:`serd_spark.operators.kg.
    graph_delta` for an assert-only stream (RDF graphs are triple
    sets: re-asserting an existing fact is a no-op, and a
    downstream consumer applying the emitted 'add' rows to the
    snapshot reconstructs the full graph exactly).  The union of
    all batch outputs equals the batch operator's 'add' arm on the
    final snapshot, regardless of how the stream was split —
    test-enforced.

    State = the accumulated triple set, maintained as a
    localCheckpointed DataFrame re-materialized per batch (lineage
    truncation, the iterative-operator pattern).  Within each batch
    the candidate rows dedup map-side, then LEFT ANTI join the
    state on the triple key.  At 100 TB the state table IS the
    materialized output (an append-only triple table bucketed on
    the join key — ``operators.materialize.write_bucketed_triples``
    layout), so the anti-join plans exchange-free on the state side
    and per-batch cost is ∝ batch size, not graph size; this
    in-memory form keeps the same join shape with localCheckpoint
    standing in for the bucketed table, the same stand-in the BGP
    family's tests use.

    Restart semantics: the in-memory seen-set dies with the driver,
    so resuming from a stream checkpoint with state reset to the base
    snapshot would re-emit triples already streamed — breaking the
    no-duplicate set contract.  ``state_path`` fixes that: the seen
    delta is PERSISTED (parquet, appended per batch) and reloaded on
    start, so a restarted query dedups against everything emitted
    before the restart.  Passing ``checkpoint_path`` WITHOUT
    ``state_path`` is therefore rejected rather than silently unsound.
    First start is detected by PROBING the path with the Hadoop FS
    API, not by matching Spark's error message text — so ANY read
    failure on an existing path (corrupt/partial parquet, transient
    FS error, schema drift) propagates unconditionally.

    Every ``compact_every`` batches the appended delta history is
    COMPACTED to one distinct snapshot (None disables): without it
    the state directory's file count and the restart union+distinct
    grow with the query's lifetime, not with the current set size
    (ADVICE r7).  The rewrite is a crash-safe two-phase swap —
    write the snapshot to ``state_path + ".compacting"``, delete the
    live directory, atomically rename the staging in — and start-up
    RECOVERS the one interruptible state (staging complete, live
    deleted, rename pending) by finishing the rename; a staging dir
    alongside a live dir is an incomplete write and is discarded.
    The swap never holds the only copy: the snapshot being written
    is localCheckpointed in memory first.
    The state append lands after ``sink`` returns, so a crash between
    the two re-emits that one batch on replay (at-least-once into the
    sink; Spark replays the batch under the SAME batch_id, so an
    idempotent sink — or any downstream consumer applying set
    semantics — sees exactly-once).

    ``sink(adds_df, batch_id)`` receives each batch's (s, p, o,
    change='add') rows.  Returns the started StreamingQuery."""
    if checkpoint_path and not state_path:
        raise ValueError(
            "checkpoint_path without state_path: after a restart the"
            " in-memory seen-set would reset to the base snapshot and"
            " re-emit already-streamed triples; pass state_path to"
            " persist the seen delta (or drop checkpoint_path for the"
            " single-run in-memory form)")
    ks = ["s", "p", "o"]
    spark = snapshot.sparkSession
    seen = snapshot.select(ks).distinct()
    delta = None  # cumulative EMITTED set — what state_path holds
    if state_path:
        fs, live, pcls = _hadoop_fs(spark, state_path)
        staging = pcls(state_path + ".compacting")
        if fs.exists(staging):
            if not fs.exists(live):
                # crashed between delete and rename: the staged
                # snapshot IS the complete state — finish the swap
                if not fs.rename(staging, live):
                    raise IOError(
                        f"could not recover compacted state: rename"
                        f" {state_path}.compacting -> {state_path}"
                        f" failed")
            else:
                # staging alongside a live dir = incomplete write
                # from a crash mid-compaction; live is authoritative
                fs.delete(staging, True)
        if fs.exists(live):
            # path existence established via the FS API, so ANY
            # failure of this read propagates — silently falling
            # back to the base snapshot would re-emit everything
            # streamed before the restart, the exact duplicate bug
            # state_path exists to prevent
            delta = spark.read.parquet(state_path).select(ks) \
                .distinct().localCheckpoint()
            seen = seen.unionByName(delta).distinct()
    # delta_parts holds the cumulative EMITTED set as a LIST of
    # per-batch localCheckpointed frames: appending is free, and the
    # full-set union is materialized only at compaction — NOT once
    # per batch (re-checkpointing the whole cumulative set every
    # batch would make per-batch cost grow with total emitted rows)
    state = {"seen": seen.localCheckpoint(),
             "delta_parts": [delta] if delta is not None else [],
             "batches": 0}

    def _compact() -> None:
        fs, live, pcls = _hadoop_fs(spark, state_path)
        staging = pcls(state_path + ".compacting")
        snap = state["delta_parts"][0]
        for p in state["delta_parts"][1:]:
            snap = snap.unionByName(p)
        # one materialization per compaction window; the blocks back
        # the staged write and survive the swap
        snap = snap.localCheckpoint()
        state["delta_parts"] = [snap]
        # bound the snapshot's file fan-out by row count — the whole
        # point of compacting is that restart load (and the file
        # listing) scales with the CURRENT set, not with how many
        # batches ever appended
        n_files = max(1, -(-snap.count() // 4_000_000))
        snap.repartition(n_files).write.mode("overwrite").parquet(
            state_path + ".compacting")
        if not fs.delete(live, True):
            raise IOError(f"compaction could not remove {state_path}")
        if not fs.rename(staging, live):
            raise IOError(
                f"compaction rename failed for {state_path} — state"
                f" preserved at {state_path}.compacting (recovered"
                f" automatically on next start)")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        cand = batch_df.select(ks).distinct()
        new = cand.join(state["seen"], ks, "left_anti") \
            .localCheckpoint()
        sink(new.withColumn("change", F.lit("add")), batch_id)
        state["seen"] = state["seen"].unionByName(new) \
            .localCheckpoint()
        if state_path:
            new.write.mode("append").parquet(state_path)
            state["delta_parts"].append(new)  # already checkpointed
            state["batches"] += 1
            if compact_every and state["batches"] % compact_every == 0:
                _compact()

    writer = stream.writeStream.foreachBatch(handle)
    if checkpoint_path:
        writer = writer.option("checkpointLocation", checkpoint_path)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
