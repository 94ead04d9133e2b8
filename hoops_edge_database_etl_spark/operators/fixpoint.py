"""The two sweep helpers of the iterative queries.

Fixed-count sweeps (PageRank, HITS, Markov value iteration, PCA power
iteration) use ``unrolled``: the sweeps become one SQL CTE chain that
Spark analyzes once, so calling the query runs no job per sweep.
Data-dependent sweeps (connected components, Bellman-Ford SSSP, DAG
longest paths) use ``until_stable``, which checkpoints each sweep and
stops on a repeated probe. Loops whose state is not one frame or whose
probe has its own cadence (q135, q429, k-core) stay hand-written: the
helper would have to branch per caller.

The single-read rule: Spark inlines a deterministic CTE at every place
that reads it, so a sweep that reads its predecessor twice doubles the
plan on every sweep. Each ``unrolled`` step reads the previous CTE
exactly once; a normalizer over the whole vector is a window
(``MAX(x) OVER ()``), not a second aggregate over the same CTE.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame


def unrolled(
    init_sql: str,
    step_sql: str | tuple[str, ...],
    sweeps: int,
    final_sql: str,
    **frames: DataFrame,
) -> DataFrame:
    """Run ``sweeps`` fixed sweeps as one SQL statement.

    The chain is ``c0 AS (init_sql)`` and ``c{k} AS (step)`` for k = 1
    … ``sweeps``, followed by ``final_sql``. A step is a ``str.format``
    template over ``{prev}``, the previous CTE's name; a tuple of
    templates is applied in turn (HITS alternates authority and hub
    half-sweeps). ``final_sql`` is a template over ``{last}``, the
    final CTE, and ``{prev}``, the one before it. A step must read
    ``{prev}`` exactly once (see the module docstring). All the texts
    reach the ``frames`` as ``{name}``, which ``spark.sql`` binds to
    the given DataFrames, so checkpoint the frames the sweeps share:
    every sweep reads them. Nothing runs until an action, and AQE then
    runs the chain stage by stage."""
    steps = (step_sql,) if isinstance(step_sql, str) else step_sql
    bound = {name: "{" + name + "}" for name in frames}
    ctes = [f"c0 AS ({init_sql})"] + [
        f"c{k} AS ({steps[(k - 1) % len(steps)].format(prev=f'c{k - 1}', **bound)})"
        for k in range(1, sweeps + 1)
    ]
    final = final_sql.format(last=f"c{sweeps}", prev=f"c{sweeps - 1}", **bound)
    spark = next(iter(frames.values())).sparkSession
    return spark.sql("WITH " + ",\n".join(ctes) + "\n" + final, **frames)


def until_stable(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    probe: tuple[Column, ...],
    max_sweeps: int,
    what: str,
) -> DataFrame:
    """Apply ``step`` until the ``probe`` aggregates over the state repeat.

    Each sweep checkpoints ``step(state)`` with ``eager=False``, so
    lineage stays one sweep deep. Under AQE that call already runs every
    shuffle stage of the sweep, one job each; only the result stage
    waits, and the ``agg(*probe)`` collect runs it in the probe's own
    job. The driver only ever sees scalars. The probe must be monotone,
    i.e. change iff the state changes (``sum(label)`` under
    min-propagation over a fixed node set; ``(count, sum(dist))`` when
    nodes are only added and distances only fall), because the loop
    stops on the first sweep whose probe equals the previous one. Raises
    ``RuntimeError`` naming ``what`` when ``max_sweeps`` sweeps pass
    without a repeat.
    """
    prev = None
    for _ in range(max_sweeps):
        state = step(state).localCheckpoint(eager=False)
        cur = tuple(state.agg(*probe).collect()[0])
        if cur == prev:
            return state
        prev = cur
    raise RuntimeError(f"{what} did not converge in {max_sweeps} sweeps")
