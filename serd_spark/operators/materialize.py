"""Materialization: sorted NQuads output + stage checkpoints
(resumable runs).

The canonical output (O-24) is a globally-sorted parquet dataset of
NQuads lines: one range-partition shuffle, each part file sorted, and
part files totally ordered by index — the distributed equivalent of
serd's single sorted stream.  Iceberg is the design target
(BASELINE.json); this sandbox has no Iceberg jars, so a checkpoint is
a parquet directory whose _DONE marker stands in for a snapshot.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .canonicalize import SORT_KEY, dedup_triples, nquads_line_col


def sorted_nquads(triples: DataFrame) -> DataFrame:
    """Deduplicated ``triples`` as one ``line`` column, globally sorted
    on ``SORT_KEY`` (nulls first).  Builds the plan only.

    One Exchange: ``repartitionByRange(SORT_KEY)`` feeds the
    ``dedup_triples`` window, whose clustering on the quad key it
    satisfies (``SORT_KEY`` is a prefix of it), and the window's local
    sort already orders each partition on ``SORT_KEY``, so the
    ``sortWithinPartitions`` below is planned away.  Reading the part
    files in name order gives the canonical stream."""
    ranged = triples.repartitionByRange(*SORT_KEY)  # ascending: nulls first
    deduped = dedup_triples(ranged).sortWithinPartitions(*SORT_KEY)
    return deduped.select(nquads_line_col(deduped).alias("line"))


def part_rows(path: str) -> list[int]:
    """Rows of each part file of a parquet dataset, in part-file order,
    read from the footers on the driver (no Spark job)."""
    import pyarrow.parquet as pq

    return [pq.ParquetFile(os.path.join(path, name)).metadata.num_rows
            for name in sorted(os.listdir(path))
            if name.startswith("part-")]


# ---- stage checkpoints (resume + lineage metrics) ----


def _done_marker(path: str) -> str:
    return os.path.join(path, "_DONE.json")


def write_checkpoint(
    df: DataFrame, path: str, stage: str,
    counts: dict[str, Column] | None = None,
) -> dict:
    """Write a stage checkpoint + _DONE marker with its row count.  A
    later run resumes by reading the checkpoint instead of recomputing
    the stage (read_checkpoint).

    The row count rides the write itself via ``Observation`` — no
    re-read of the stage just to count (at scale that was one extra
    full scan per stage).  ``counts`` names further aggregates the
    same ``Observation`` takes; each is recorded in the marker under
    its name."""
    from pyspark.sql import Observation

    obs = Observation(f"ckpt_{stage}")
    aggs = [F.count(F.lit(1)).alias("rows")]
    aggs += [c.alias(name) for name, c in (counts or {}).items()]
    w = df.observe(obs, *aggs).write.mode("overwrite")
    t0 = time.time()
    w.parquet(path)
    info = {"stage": stage, **obs.get,
            "elapsed_sec": round(time.time() - t0, 3),
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ",
                                        time.gmtime())}
    with open(_done_marker(path), "w") as f:
        json.dump(info, f)
    return info


def read_checkpoint(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def checkpoint_info(path: str) -> dict | None:
    m = _done_marker(path)
    if not os.path.exists(m):
        return None
    with open(m) as f:
        return json.load(f)


def write_bucketed_triples(
    triples: DataFrame, table: str, n_buckets: int = 64,
    bucket_col: str = "s",
) -> None:
    """Materialize triples bucketed (and sorted within buckets) by a
    join key — the layout that makes downstream self-joins (s-s path
    joins, s-o chains) and point lookups exchange-free: Spark reads
    the bucket spec from the catalog and plans SortMergeJoin WITHOUT
    an Exchange on either side.  This is the parquet/warehouse form of
    the Iceberg `bucket(N, s)` partition transform the deploy target
    uses."""
    import re

    # The name reaches raw SQL and a filesystem path: accept only a
    # plain (optionally db-qualified) identifier so a hostile string
    # can neither inject SQL nor aim the stale-location cleanup at a
    # directory the catalog never owned.
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*"
                        r"(\.[A-Za-z_][A-Za-z0-9_]*)?", table):
        raise ValueError(f"invalid table identifier: {table!r}")
    spark = triples.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")

    def _save() -> None:
        (
            triples.write.mode("overwrite")
            .bucketBy(n_buckets, bucket_col)
            .sortBy(bucket_col)
            .format("parquet")
            .saveAsTable(table)
        )

    try:
        _save()
    except Exception as e:  # noqa: BLE001 — narrowed by class below
        # A PREVIOUS session's in-memory catalog forgot the table but
        # its warehouse directory survives on disk; the managed-table
        # save then fails with LOCATION_ALREADY_EXISTS.  Only THEN
        # remove that directory (never preemptively — a same-named
        # directory the catalog never owned must not be deleted on
        # the happy path) and retry once.  Matched on the exception's
        # ERROR CLASS (getCondition, PySpark 4.1 name; getErrorClass
        # on older 3.x) with the message substring only as a fallback
        # for exceptions that carry no class — message text is not a
        # stable API across Spark versions/locales (verified against
        # the pinned PySpark 4.1.2).
        cls = None
        for attr in ("getCondition", "getErrorClass"):
            fn = getattr(e, attr, None)
            if callable(fn):
                try:
                    cls = fn()
                except Exception:  # noqa: BLE001 — probe only
                    cls = None
                if cls:
                    break
        hit = (cls == "LOCATION_ALREADY_EXISTS" if cls
               else "LOCATION_ALREADY_EXISTS" in str(e))
        if not hit or "." in table:
            raise
        from urllib.parse import urlparse

        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", ""))
        if not (wh.scheme in ("", "file") and wh.path):
            raise
        stale = os.path.join(wh.path, table.lower())
        if not os.path.isdir(stale):
            raise
        import shutil

        shutil.rmtree(stale, ignore_errors=True)
        _save()
