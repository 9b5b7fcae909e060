"""Lazy bucket-cap drop accounting shared by every banded-LSH path.

The no-silent-caps rule says a capped bucket (recall loss) must be
logged, never swallowed. Through round 4 the drop count was computed
with an eager ``.count()`` action at plan-construction time — a second
full pass over the banded data on every capped call, doubling the
capping stage's cost at 100 TB. This module makes the count ride the
caller's own first action instead, via ``DataFrame.observe``
(a ``CollectMetrics`` node placed between the ranking window and the
cap filter, so it sees the pre-filter row set): zero extra Spark jobs,
same logged numbers.

Observed metrics only materialize when the caller runs an action, so
each observation joins a pending list swept by at most one daemon
poller thread, which logs an observation once its JVM future has
completed (a non-blocking check). A plan that never runs costs a list
entry, not a parked thread. Deterministic consumers (tests, the crawl
loop's metrics table) call :func:`flush_cap_drop_logs` after their
action to log every finished observation before asserting.
"""

from __future__ import annotations

import itertools
import logging
import threading
import time

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

_SEQ = itertools.count()
_LOCK = threading.Lock()
# (observation, bucket_cap, op_name, logger, detail) awaiting their action
_PENDING: list[tuple[Observation, int, str, logging.Logger, str]] = []
_POLLER: threading.Thread | None = None


def observe_cap_drops(
    ranked: DataFrame,
    rank_col: str,
    bucket_cap: int,
    op_name: str,
    logger: logging.Logger,
    detail: str,
) -> DataFrame:
    """Attach a lazy dropped-membership counter to ``ranked`` (which
    must already carry a per-bucket ``rank_col``) and return the
    observed frame. The caller applies the ``rank_col <= bucket_cap``
    filter on the RETURNED frame — Catalyst keeps that filter above the
    CollectMetrics node because ``rank_col`` is produced by the window
    below it, so the metric always sees the uncapped row set.

    When the caller's first action completes, the poller logs
    ``logger.warning`` with the drop count iff it is nonzero, with
    ``detail`` appended (the operator-specific recall-loss guidance).
    """
    global _POLLER
    obs = Observation(f"{op_name}_cap_drops_{next(_SEQ)}")
    observed = ranked.observe(
        obs,
        F.sum(
            F.when(F.col(rank_col) > bucket_cap, F.lit(1)).otherwise(F.lit(0))
        ).alias("dropped"),
    )
    with _LOCK:
        _PENDING.append((obs, bucket_cap, op_name, logger, detail))
        if _POLLER is None:
            _POLLER = threading.Thread(target=_poll, daemon=True, name="cap-drops-poller")
            _POLLER.start()
    return observed


def _poll() -> None:
    """Sweep every 0.2 s; exit once nothing is pending (the next
    :func:`observe_cap_drops` starts a fresh poller)."""
    global _POLLER
    while True:
        time.sleep(0.2)
        _sweep()
        with _LOCK:
            if not _PENDING:
                _POLLER = None
                return


def _completed(obs: Observation) -> bool:
    try:
        return obs._jo.future().isCompleted()
    except Py4JError:  # JVM gone: the plan can never run
        return True


def _sweep() -> int:
    """Log and drop every pending observation whose action has
    completed; returns how many. Logging happens under the lock, so a
    sweep that returns has every earlier sweep's warnings out."""
    with _LOCK:
        done = [p for p in _PENDING if _completed(p[0])]
        for p in done:
            _PENDING.remove(p)
            obs, bucket_cap, op_name, logger, detail = p
            try:
                dropped = obs.get.get("dropped")
            except Py4JError:  # session torn down before the action ran
                continue
            if dropped:
                logger.warning(
                    "%s: bucket_cap=%d dropped %d bucket memberships — %s",
                    op_name,
                    bucket_cap,
                    dropped,
                    detail,
                )
    return len(done)


def flush_cap_drop_logs(timeout: float = 60.0) -> int:
    """Log every observation whose action has completed, so its warning
    is visible to the caller (tests assert on caplog after this).
    Observed metrics reach the driver through the listener bus, so this
    first waits up to ``timeout`` seconds for the bus to drain.
    Observations of never-executed plans stay pending. Returns the
    number logged."""
    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc._jsc.sc().listenerBus().waitUntilEmpty(int(timeout * 1000))
        except Py4JError:  # bus still busy at the deadline: sweep anyway
            pass
    return _sweep()
