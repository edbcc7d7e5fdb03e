"""Shared operator utilities.

``spread`` fixes the narrow-input parallelism trap (optimization
guide §2.5 "input skew"): the sandbox's per-sf tables are single
parquet files with ONE row group, so every scan starts as ONE task —
and the CPU-dense first stages of the token/shingle operators
(explode + per-shingle md5, per-row regex batteries) then run on one
core regardless of cluster size.  A cheap round-robin repartition of
the small base rows unlocks the cores for the expensive downstream
work.

Scale posture: the repartition is CONDITIONAL on the input having
fewer partitions than the session's parallelism — at 100 TB the scan
already has thousands of splits and ``spread`` is a no-op (no extra
shuffle).  The target is derived from the session
(``defaultParallelism``), never a constant, and can be pinned with
``spark.serd.spread.partitions`` (0 disables).

``frontier_fixpoint`` is the one semi-naive closure loop behind every
graph closure (``bfs_levels``, the ``bgp_path_quant`` pair closure and
its seeded form), so the visited-set and checkpoint policy lives here
only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame, factor: int = 1,
           barrier: bool = False) -> DataFrame:
    """Round-robin repartition ``df`` to ``factor ×
    defaultParallelism`` partitions IF it currently has fewer —
    otherwise return it unchanged (no shuffle added at scale).

    ``barrier=True`` additionally cuts the plan with a lazy
    ``localCheckpoint`` AFTER the repartition: Catalyst pushes
    deterministic filters through Repartition down to the narrow
    scan, so a consumer that FILTERS on expensive derived columns
    (the fused quality/langid gates) would otherwise evaluate the
    whole expression battery on the one-split side anyway — the
    barrier pins evaluation above the repartition (and evaluates the
    checkpointed projection exactly once).  The barrier only applies
    when the spread actually fired, i.e. on narrow (small) inputs —
    wide inputs pass through untouched, so nothing corpus-sized is
    ever checkpointed."""
    spark = df.sparkSession
    conf_target = int(
        spark.conf.get("spark.serd.spread.partitions", "-1"))
    if conf_target == 0:
        return df
    target = (conf_target if conf_target > 0
              else spark.sparkContext.defaultParallelism * factor)
    try:
        cur = df.rdd.getNumPartitions()
    except Exception:
        return df
    if cur >= target:
        return df
    out = df.repartition(target)
    if barrier:
        out = out.localCheckpoint(eager=False)
    return out


def frontier_fixpoint(seed: DataFrame, expand, key: list,
                      max_iters: int, what: str) -> DataFrame:
    """Semi-naive closure: ``seed`` plus every row that repeated
    ``expand(frontier)`` reaches, where a row is new iff its ``key``
    columns are not yet visited.

    Each round runs ``expand`` on the last round's NEW rows only →
    ``distinct`` → left-anti join on ``key`` against the visited set →
    ``localCheckpoint`` (truncates the iterative lineage; the frontier
    strictly shrinks on converging paths, so cycles terminate).  The
    visited set stays a UNION of already-checkpointed frames — never
    re-checkpointed, which would re-materialize the whole growing set
    every round (O(depth × |closure|) row writes; dropping it measured
    23.3 → 18.5 s on the sf1.0 ``p*`` row).  ``seed`` should itself be
    checkpointed and carry the columns ``expand`` emits.

    Stops at the first empty round.  ``max_iters`` is a diameter
    backstop, not a tuning knob: if it runs out, ONE extra probe round
    decides — a closure of depth exactly ``max_iters`` is complete and
    returns, one that still expands raises ``RuntimeError`` (a silently
    partial closure is a wrong answer).  ``what`` names the caller in
    that message."""
    def _new(frontier, visited):
        return (expand(frontier).distinct()
                .join(visited.select(*key), key, "left_anti")
                .localCheckpoint())

    visited = frontier = seed
    for _ in range(max_iters):
        nxt = _new(frontier, visited)
        if nxt.isEmpty():
            return visited
        visited = visited.unionByName(nxt)
        frontier = nxt
    if not _new(frontier, visited).isEmpty():
        raise RuntimeError(
            f"{what}: frontier still expanding after"
            f" max_iters={max_iters} rounds — the closure is deeper"
            f" than the backstop; raise max_iters")
    return visited
