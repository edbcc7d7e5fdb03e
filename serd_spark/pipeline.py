"""End-to-end KG-construction pipeline (the serdi analogue, O-5).

Three stages, each a parquet checkpoint with a ``_DONE.json`` marker:

- ``parsed``: the parse, one row per triple or quarantined error
  (``err`` set).  This checkpoint is also the quarantine ledger: its
  error rows are ``split_quarantine(parsed)[1]``, so no stage re-writes
  them.
- ``metrics``: per-conversation triple and error counts.
- ``nquads``: dedup + globally sorted NQuads, one plan.

A re-run skips every stage whose marker exists; only ``parsed`` is
read back, as the input of the other two.  A ``parsed`` marker without
the error count (one written before the count was observed) is not
finished, so that stage runs again.  The summary's counts come
from the markers, which the writes' own ``Observation``s fill:
``n_errors`` is the ``parsed`` write's ``err IS NOT NULL`` count,
``n_convs`` the ``metrics`` rows and ``n_triples`` the ``nquads``
rows; its per-part-file ``partitions`` come from the NQuads parquet
footers.  So the run ends without a counting job, and a re-run of a
finished job starts none at all.

Run via spark-submit:
    spark-submit --py-files serd_spark.zip -m serd_spark.pipeline \
        --input /path/transcripts --output /path/kg --syntax turtle

Scale design (10^12 turns): Turtle/TriG run the one Turtle pass
(``parse_documents_colocated``): a ``repartition(defaultParallelism,
conv_id)`` puts each conversation in one task, which cuts it into
``chunk_turns``-turn chunks and carries the parser's Env from chunk to
chunk, so memory stays bounded on mega-conversations.  On a cluster
``defaultParallelism`` is the cluster's core count, so the parse runs
as one wave of streaming ``mapInArrow`` tasks: a task's memory is
bounded by ``chunk_turns`` and by the local sort, which spills, not
by its share of the corpus.  The cost is coarser retries: a failed
task re-parses one core's share.  NT/NQ go through
``parse_documents`` to the shuffle-free line pass.  Blank ids and stmt
indices are pure functions of input coordinates so retries/speculative
tasks are safe; the only wide operations are the parse repartition,
the one range Exchange that feeds both the dedup and the sorted
NQuads write (``sorted_nquads``), and the ``metrics`` aggregation.
"""

from __future__ import annotations

import argparse
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from .operators.canonicalize import conv_metrics_from_parsed
from .operators.materialize import (
    checkpoint_info,
    part_rows,
    sorted_nquads,
    write_checkpoint,
)
# parse_ntriples_lines is unused here but stays importable: the
# benchmark's tracer (perfbench/workloads.py) wraps each parse builder
# by name on this module.
from .operators.parse import (  # noqa: F401
    PARSED_SCHEMA,
    parse_documents,
    parse_documents_colocated,
    parse_ntriples_lines,
    split_quarantine,
)

# Builders no longer called here but still named by
# perfbench/workloads.py's _PIPELINE_WRAPS; None keeps its
# getattr-and-wrap working.
assemble_chunks = parse_documents_chunked = None
dedup_triples = conv_metrics = partition_metrics = None
write_sorted_nquads = None


class KGPipeline:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        syntax: str = "turtle",
        lax: bool = True,
        chunk_turns: int = 64,
    ):
        self.spark = spark
        self.workdir = workdir
        self.syntax = syntax
        self.lax = lax
        self.chunk_turns = chunk_turns
        self.stage_infos: list[dict] = []

    def _path(self, stage: str) -> str:
        return os.path.join(self.workdir, stage)

    def _stage(self, name: str, build, counts=None) -> dict:
        """Run one checkpointed stage unless an earlier run finished it,
        and return its info: ``rows`` and each of ``counts`` (named
        aggregates, see ``write_checkpoint``), observed by the write
        itself or on resume read from the checkpoint's marker.  A
        marker that lacks one of ``counts`` (written before the count
        existed) does not count as finished."""
        path = self._path(name)
        done = checkpoint_info(path)
        keys = ["rows", *(counts or {})]
        if done is not None and all(k in done for k in keys):
            info = {"stage": name, "resumed": True,
                    **{k: done[k] for k in keys}}
        else:
            info = write_checkpoint(build(), path, name, counts=counts)
        self.stage_infos.append(info)
        return info

    def run(self, transcripts: DataFrame) -> dict:
        t0 = time.time()

        def parse():
            if self.syntax in ("ntriples", "nquads"):
                return parse_documents(transcripts, self.syntax, self.lax)
            return parse_documents_colocated(
                transcripts, self.chunk_turns, self.syntax, self.lax)

        n_errors = self._stage(
            "parsed", parse, counts={"errors": F.count("err")})["errors"]
        # every parse pass emits PARSED_SCHEMA: no schema-inference job
        parsed = self.spark.read.schema(PARSED_SCHEMA).parquet(
            self._path("parsed"))
        triples, _ = split_quarantine(parsed)

        n_convs = self._stage(
            "metrics", lambda: conv_metrics_from_parsed(parsed))["rows"]
        n_triples = self._stage(
            "nquads", lambda: sorted_nquads(triples))["rows"]

        out_path = self._path("nquads")
        summary = {
            "elapsed_sec": round(time.time() - t0, 3),
            "n_triples": n_triples,
            "n_errors": n_errors,
            "n_convs": n_convs,
            "partitions": part_rows(out_path),
            "stages": self.stage_infos,
            "output": out_path,
        }
        with open(os.path.join(self.workdir, "summary.json"), "w") as f:
            json.dump(summary, f, indent=2, default=str)
        return summary


def main() -> None:
    from .session import get_spark
    from .transcripts import transcripts_df

    ap = argparse.ArgumentParser(description="serd_spark KG pipeline")
    ap.add_argument("--input", help="transcripts parquet (F1 schema); "
                    "omit to use the synthetic generator")
    ap.add_argument("--n-convs", type=int, default=1000)
    ap.add_argument("--output", required=True, help="work/output dir")
    ap.add_argument("--syntax", default="turtle",
                    choices=["turtle", "trig", "ntriples", "nquads"])
    ap.add_argument("--strict", action="store_true")
    ap.add_argument("--chunk-turns", type=int, default=64)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    spark = get_spark("serd_spark.pipeline", master=args.master)
    if args.input:
        transcripts = spark.read.parquet(args.input)
    else:
        transcripts = transcripts_df(spark, args.n_convs)
    pipe = KGPipeline(
        spark, args.output, syntax=args.syntax, lax=not args.strict,
        chunk_turns=args.chunk_turns,
    )
    summary = pipe.run(transcripts)
    print(json.dumps({k: v for k, v in summary.items() if k != "stages"}))


if __name__ == "__main__":
    main()
