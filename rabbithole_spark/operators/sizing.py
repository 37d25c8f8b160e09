"""Size-guarded broadcast decisions (round 13, guide §3.1 + VERDICT
r12 "What's wrong" #2).

Several operators broadcast relations that are dimension-scale for
every registered caller but UNBOUNDED in the operator contract (a
prefix relation over distinct names, a per-doc shingle relation
bounded only by the candidate set). An explicit ``F.broadcast`` on
such a side is correct until someone calls the operator on a
fact-scale relation — then the driver OOMs building the hash
relation, with no fallback. These helpers make every such broadcast
conditional on the optimizer's own size estimate:

- under the cap: ``F.broadcast(df)`` exactly as before (local plans
  unchanged — every registered caller's relation is far below any
  sane cap);
- over the cap: the relation is returned unhinted and the planner
  picks a shuffle join (sort-merge / shuffled-hash, with AQE skew
  splitting available) — slower, but it completes instead of
  OOMing the driver.

The estimate is ``optimizedPlan().stats().sizeInBytes`` — file-size
derived for parquet scans and propagated through projections, so it
is accurate for exactly the scan-rooted relations these operators
broadcast. An estimate that cannot be read at all is treated as
INFINITE (fail toward the shuffle plan, never toward an OOM) and
logged as a WARNING naming the exception, so the fallback is never
silent.

The cap is read from the session conf key ``rabbithole.broadcast.cap``
(bytes) so tests can force the fallback path; the 64 MiB default sits
well above every registered caller's relation (sub-MB at bench SFs)
and well below driver-memory hazard territory.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["plan_size_bytes", "guarded_broadcast"]

#: Default cap for deliberate operator broadcasts (bytes).
DEFAULT_BROADCAST_CAP = 64 * 1024 * 1024

_CAP_CONF = "rabbithole.broadcast.cap"

LOGGER = logging.getLogger(__name__)


def plan_size_bytes(df: DataFrame) -> int:
    """The optimizer's size estimate for ``df`` in bytes.

    Driver-side metadata only (no job runs): analysis + optimization
    of the plan, then the propagated statistics. Returns a huge
    sentinel when the estimate is unavailable so callers guard toward
    the conservative (non-broadcast) plan, and logs why.
    """
    try:
        return int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception as exc:  # py4j / analysis failure
        LOGGER.warning(
            "plan size estimate unavailable (%s: %s); treating it as unbounded",
            type(exc).__name__, exc,
        )
        return 1 << 62


def broadcast_cap(df: DataFrame) -> int:
    cap = df.sparkSession.conf.get(_CAP_CONF, None)
    return int(cap) if cap is not None else DEFAULT_BROADCAST_CAP


def guarded_broadcast(df: DataFrame) -> DataFrame:
    """``F.broadcast(df)`` when the estimate fits the cap, else ``df``
    unhinted (identity-preserving: callers can test ``result is df``
    to know which plan they got)."""
    if plan_size_bytes(df) <= broadcast_cap(df):
        return F.broadcast(df)
    return df
