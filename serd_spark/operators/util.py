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

``fixpoint`` is the one convergence loop: it owns the round and
``max_iters`` exhaustion contract for ``dup_clusters`` and for
``frontier_fixpoint``, the semi-naive closure step behind every graph
closure (``bfs_levels``, the ``bgp_path_quant`` pair closure and its
seeded form), so the visited-set and checkpoint policy lives here
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


def fixpoint(state, step, max_iters: int, what: str):
    """Iterate ``state = step(state)`` until ``step`` returns ``None``
    (the fixpoint: ``state`` is the answer) — the one convergence loop
    behind every closure and ``dup_clusters``, so the round and
    exhaustion policy lives here only.  ``step`` cuts its own lineage
    (one eager ``localCheckpoint``) and runs one emptiness check per
    round.

    ``max_iters`` is a backstop, not a tuning knob: if it runs out,
    ONE extra probe round decides — an answer that needed exactly
    ``max_iters`` rounds is complete and returns, one that still moves
    raises ``RuntimeError`` (a silently partial answer is a wrong
    answer).  ``what`` names the caller in that message."""
    for _ in range(max_iters):
        nxt = step(state)
        if nxt is None:
            return state
        state = nxt
    if step(state) is not None:
        raise RuntimeError(
            f"{what}: still changing after max_iters={max_iters}"
            f" rounds — the answer is deeper than the backstop;"
            f" raise max_iters")
    return state


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

    Stops at the first empty round; :func:`fixpoint` owns the
    ``max_iters`` contract (a closure deeper than the backstop
    raises)."""
    def step(state):
        visited, frontier = state
        nxt = (expand(frontier).distinct()
               .join(visited.select(*key), key, "left_anti")
               .localCheckpoint())
        if nxt.isEmpty():
            return None
        return visited.unionByName(nxt), nxt

    return fixpoint((seed, seed), step, max_iters, what)[0]
