"""One convergence loop for the graph fixpoints: connected components
(star, label propagation), Bellman-Ford SSSP, DAG longest paths.

Fixed-count loops stay plain ``for`` loops (a helper would hide nothing),
and so do loops whose state is not one frame or whose probe has its own
cadence (q135, q429, k-core): the helper would have to branch per caller.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame


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
