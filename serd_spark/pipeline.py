"""End-to-end KG-construction pipeline (the serdi analogue, O-5).

transcripts → parse → quarantine split →
dedup/canonicalize → sorted NQuads materialization, with per-stage
checkpoints, per-conversation lineage metrics, and per-partition
counts — resumable: a re-run skips stages whose _DONE marker exists.

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
the dedup, and the final range-partition sort.  The summary's counts
come from the stage checkpoints' own row counts, so the run ends
without a counting job.
"""

from __future__ import annotations

import argparse
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from .operators.canonicalize import (
    conv_metrics,
    dedup_triples,
    partition_metrics,
)
from .operators.materialize import (
    checkpoint_exists,
    checkpoint_info,
    read_checkpoint,
    write_checkpoint,
    write_sorted_nquads,
)
# parse_ntriples_lines is unused here but stays importable: the
# benchmark's tracer (perfbench/workloads.py) wraps each parse builder
# by name on this module.
from .operators.parse import (  # noqa: F401
    parse_documents,
    parse_documents_colocated,
    parse_ntriples_lines,
    split_quarantine,
)

# Deleted builders still named by perfbench/workloads.py's
# _PIPELINE_WRAPS; None keeps its getattr-and-wrap working.
assemble_chunks = parse_documents_chunked = None


class KGPipeline:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        syntax: str = "turtle",
        lax: bool = True,
        chunk_turns: int = 64,
        fmt: str = "parquet",
    ):
        self.spark = spark
        self.workdir = workdir
        self.syntax = syntax
        self.lax = lax
        self.chunk_turns = chunk_turns
        self.fmt = fmt
        self.stage_infos: list[dict] = []

    def _path(self, stage: str) -> str:
        return os.path.join(self.workdir, stage)

    def _stage(self, name: str, build) -> DataFrame:
        """Run or resume one checkpointed stage.  Its info carries the
        stage's ``rows``: counted by the write itself, or on resume
        read from the checkpoint's marker."""
        path = self._path(name)
        if checkpoint_exists(path):
            info = {"stage": name, "resumed": True,
                    "rows": checkpoint_info(path)["rows"]}
        else:
            info = write_checkpoint(build(), path, name, fmt=self.fmt)
        self.stage_infos.append(info)
        return read_checkpoint(self.spark, path, self.fmt)

    def run(self, transcripts: DataFrame) -> dict:
        t0 = time.time()

        if self.syntax in ("ntriples", "nquads"):
            parsed = self._stage(
                "parsed",
                lambda: parse_documents(transcripts, self.syntax, self.lax),
            )
        else:
            parsed = self._stage(
                "parsed",
                lambda: parse_documents_colocated(
                    transcripts, self.chunk_turns, self.syntax, self.lax),
            )

        triples, errors = split_quarantine(parsed)
        errors = self._stage("errors", lambda: errors)

        triples = self._stage("triples", lambda: dedup_triples(triples))

        self._stage("metrics", lambda: conv_metrics(triples, errors))
        pmetrics = partition_metrics(triples).collect()

        out_path = self._path("nquads")
        write_sorted_nquads(triples, out_path, fmt=self.fmt)

        rows = {st["stage"]: st["rows"] for st in self.stage_infos}
        summary = {
            "elapsed_sec": round(time.time() - t0, 3),
            "n_triples": rows["triples"],
            "n_errors": rows["errors"],
            "n_convs": rows["metrics"],
            "partitions": sorted(
                (r.partition_id, r.n_rows) for r in pmetrics),
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
