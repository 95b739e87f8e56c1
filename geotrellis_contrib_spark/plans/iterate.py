"""One driver loop for every distributed fixpoint operator.

Connected components, Strahler contraction and Jacobi, k-core, the halo
relax rounds (cost_distance, flow_accumulation, fill_sinks) and the border
pointer doubling (watershed, flow_length, least-cost path) all advance a
DataFrame state by pure plan construction and need the driver only to
decide when to stop. :func:`fixpoint` owns that decision.

One sync is ONE driver action: ``rounds`` steps are composed lazily, the
result is ``localCheckpoint(eager=False)``, and a single aggregate probe
over that checkpoint both materializes the state and returns the stop
value (an eager checkpoint plus a separate probe would be two actions).

Rounds per sync. Every round here is idempotent past its fixpoint and
moves monotonically toward it (min labels, pointer jumps, orders that
only grow, h-indices that only shrink, costs/fills that only improve), so
running several rounds between probes cannot change the converged state;
it only trades fewer syncs for work the last sync may do past the
fixpoint. That pays where a round is a few cheap joins next to the fixed
cost of a sync (job launch, probe, checkpoint): connected components 2,
Strahler contraction 2, Strahler Jacobi 4 (junction-depth rounds, each a
tiny aggregate), k-core 2, border doubling 2. It does not pay where the
round itself is the cost: a halo relax round runs Python tile work over a
full shuffle, and two of them per sync measured slower than one
(cost_distance gate: 21 s against 17 s), so the halo loops run 1.

Each sync logs one record on this module's logger (operator, sync index,
probe value, wall ms) with those fields also set as record attributes.
"""

from __future__ import annotations

import logging
import time
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)


def flag_clear(value, prev) -> bool:
    """Stop test for a probe over 0/1 "still moving" flags."""
    return not value


def sum_unchanged(value, prev) -> bool:
    """Stop test for a monotone state: while every value only grows (or
    only shrinks) each sync that moves anything changes the sum, so an
    unchanged sum is convergence. Sound only while rounds stay monotone;
    the per-sync records let tests check that they do."""
    return value == prev


def fixpoint(state: DataFrame, step: Callable[[DataFrame], DataFrame],
             probe: Column, *, rounds: int, max_syncs: int,
             stop: Callable, name: str, message: str,
             mark: tuple[str, Column] | None = None) -> DataFrame:
    """Apply ``step`` ``rounds`` times per sync until ``stop(probe value,
    previous probe value)`` holds; return the checkpointed state. Raises
    ``RuntimeError(message)`` when ``max_syncs`` syncs do not converge.

    ``mark`` is a (column, expression) added at the start of each sync
    and dropped after its probe, for probes that compare against the
    state the sync started from."""
    prev = None
    for sync in range(max_syncs):
        t0 = time.perf_counter()
        nxt = state if mark is None else state.withColumn(*mark)
        for _ in range(rounds):
            nxt = step(nxt)
        nxt = nxt.localCheckpoint(eager=False)
        value = nxt.agg(probe).collect()[0][0]
        ms = (time.perf_counter() - t0) * 1000.0
        _log.info("%s sync %d probe %s %.0f ms", name, sync, value, ms,
                  extra={"op": name, "sync": sync, "probe": value,
                         "ms": ms})
        state = nxt if mark is None else nxt.drop(mark[0])
        if stop(value, prev):
            return state
        prev = value
    raise RuntimeError(message)


def broadcast_if_small(n_rows: int, row_bytes: int) -> Callable:
    """``F.broadcast`` when ``n_rows`` rows of ``row_bytes`` fit the
    active session's ``spark.sql.autoBroadcastJoinThreshold``, else the
    identity. For lookup sides read from a checkpoint, whose size
    statistics Catalyst has lost; the row count comes from a job the
    caller already runs."""
    conf = SparkSession.active()._jsparkSession.sessionState().conf()
    limit = conf.autoBroadcastJoinThreshold()
    if 0 <= n_rows * row_bytes <= limit:
        return F.broadcast
    return lambda df: df


def border_doubling(border: DataFrame, summed: Sequence[str] = (), *,
                    max_syncs: int, name: str, message: str):
    """Resolve a border table (source_id, band, gid, rep, *summed, final)
    by distributed pointer doubling: each non-final row jumps to its
    rep's rep, adding the rep's ``summed`` columns, until every row is
    final. Returns (resolved border, the broadcast choice for joins
    against it).

    One initial probe job reads both the pending count and the table
    size; the size picks the join strategy, and a table with nothing
    pending runs no sync at all."""
    pending = F.sum(F.lit(1) - F.col("final"))
    n_pending, n_rows = [int(v or 0) for v in border.agg(
        pending, F.count(F.lit(1))).collect()[0]]
    # lookup row: source_id (Spark's 20 B string estimate) plus band,
    # gid, rep, final and the summed columns at 8 B each
    bc = broadcast_if_small(n_rows, 20 + 8 * (4 + len(summed)))

    def double_once(border: DataFrame) -> DataFrame:
        todo = border.filter(F.col("final") == 0)
        done = border.filter(F.col("final") == 1)
        look = border.select(
            "source_id", "band", F.col("gid").alias("g2"),
            F.col("rep").alias("r2"),
            *[F.col(c).alias(f"{c}2") for c in summed],
            F.col("final").alias("f2"))
        step = todo.alias("a").join(
            bc(look.alias("b")),
            on=[F.col("a.source_id") == F.col("b.source_id"),
                F.col("a.band") == F.col("b.band"),
                F.col("a.rep") == F.col("b.g2")], how="left") \
            .select(F.col("a.source_id").alias("source_id"),
                    F.col("a.band").alias("band"),
                    F.col("a.gid").alias("gid"),
                    F.coalesce(F.col("b.r2"), F.col("a.rep")).alias("rep"),
                    *[(F.col(f"a.{c}") + F.coalesce(F.col(f"b.{c}2"),
                                                    F.lit(0))).alias(c)
                      for c in summed],
                    F.coalesce(F.col("b.f2"), F.lit(0)).alias("final"))
        return done.unionByName(step)

    if n_pending:
        border = fixpoint(border, double_once, pending, rounds=2,
                          max_syncs=max_syncs, stop=flag_clear, name=name,
                          message=message)
    return border, bc
