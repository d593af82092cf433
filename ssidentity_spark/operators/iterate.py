"""One materialization policy, one driver budget and one round loop for
every iterative operator.

``materialize`` writes a frame out eagerly and cuts its lineage. The
session picks how: with a checkpoint directory set
(``sparkContext.setCheckpointDir``, an HDFS or object-store path on a
cluster) the frame becomes a reliable checkpoint, which survives the loss
of the executor that computed it; without one it stays in executor block
storage (``localCheckpoint``), the fastest choice on one machine, where an
executor loss fails the job.

``iterate`` runs ``step`` → observe → ``materialize`` once a round. The
round's scalars (its row count plus whatever the caller names: a change
count, a dangling mass) are aggregated by an ``Observation`` on the
round's own checkpoint job, so a fixpoint test launches no job of its own.

``BROADCAST_BYTES`` is the one size switch between a distributed plan
and driver memory. An input within it is collected once and worked in
numpy (PageRank, the k-core peel) or shipped to every Python worker
(``block_topk``'s corpus matrix); past it the operator stays on Spark.
"""

from __future__ import annotations

import time
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

# Bytes of one collected input that the driver (and, for block_topk,
# every Python worker) holds at once. 128 MB is 262,144 vectors of the
# 64-dim embeddings, about 140,000 users at the 120-cell (hour x event
# type) profile grain, 5.6M PageRank edges or 8.4M k-core edges.
BROADCAST_BYTES = 1 << 27


def materialize(df: DataFrame) -> DataFrame:
    """``df`` written out by one eager job, lineage cut: a reliable
    checkpoint when the session has a checkpoint directory, a local one
    otherwise."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def materialize_observed(
    df: DataFrame, **metrics: Column
) -> tuple[DataFrame, dict]:
    """``materialize(df)`` plus the aggregate ``metrics`` over its rows,
    read off the same job (``{name: value}``)."""
    obs = Observation()
    out = materialize(df.observe(obs, *(c.alias(k) for k, c in metrics.items())))
    return out, obs.get


def iterate(
    step: Callable[[DataFrame, dict], DataFrame],
    state: DataFrame,
    max_iter: int,
    metrics: dict[str, Column] | None = None,
    done: Callable[[dict, dict], bool] | None = None,
    init: dict | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Up to ``max_iter`` rounds of ``state = materialize(step(state, m))``;
    returns the last round's materialized state.

    ``m`` holds the previous round's observed values (``init`` before the
    first round): ``rows``, the state's row count, plus one entry per
    ``metrics`` aggregate. After each round ``done(m, prev)`` may end the
    loop; it sees the new and the previous metrics. Without ``done`` the
    loop runs all ``max_iter`` rounds.

    ``stats``, when given, receives ``iterations``, ``converged`` (``done``
    ended the loop), and per round the state's ``rows`` and wall
    ``seconds``."""
    observed = {"rows": F.count(F.lit(1)), **(metrics or {})}
    m = init or {}
    rows: list[int] = []
    seconds: list[float] = []
    stop = False
    for _ in range(max_iter):
        t0 = time.perf_counter()
        new, m_new = materialize_observed(step(state, m), **observed)
        stop = done is not None and done(m_new, m)
        seconds.append(time.perf_counter() - t0)
        rows.append(m_new["rows"])
        state, m = new, m_new
        if stop:
            break
    if stats is not None:
        stats.update(
            iterations=len(rows), converged=stop, rows=rows, seconds=seconds
        )
    return state
