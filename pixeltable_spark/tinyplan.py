"""Scoped "tiny plan" execution mode: AQE off + a data-derived shuffle
partition count for operator sections whose intermediate volume is known
to be small.

Why: with AQE on, EVERY shuffle stage of an action materializes as its
own Spark job, with a driver replanning pass between stage jobs. That is
the right trade for wide data-dependent plans (runtime coalescing, skew
splits, join-strategy rewrites), but for operator sections that reduce a
*bounded* table — an iterative fixpoint loop over a checkpointed edge
set, model/sketch tables bounded by a vocab or register count, commit
probes over a literal batch — the runtime statistics can never change
the plan, so the per-stage job floor (measured 30-145 ms/job depending
on boot) and the replanning gaps are pure overhead. Measured on the
connected-components loop: 8-9 jobs per star round with AQE vs 1
without, identical results.

The partition count is NEVER a constant: callers derive it from the
data, e.g. the materialized partition count of an eagerly-checkpointed
frame (which was itself byte-coalesced by AQE when it materialized) or a
driver-known row count. That keeps the mode scale-adaptive — a 100 TB
dup graph's loop runs at the width its checkpoint materialized with, a
bench-scale one at 1.

Partitioning cannot change results for the sections this is applied to
(exact-key groupBy/join/distinct pipelines and global aggregates); the
oracle gate re-verifies every touched query.

Concurrency contract: the confs are session-global, and the engine
enters the scope from several threads at once (streaming foreachBatch
ingest, the serving daemon, racing object-store writers). So there is
ONE process-wide scope, shared by every thread: the first entry owns it
and applies its settings, any entry while it is active (nested or from
another thread) joins it and runs under the owner's settings, and the
last one to leave restores the confs on the session they were saved
from. A lock guards only this bookkeeping, never the scoped work, so
concurrent mutations still run — and race — in parallel. Joining is
safe because partitioning cannot change the scoped sections' results.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from . import telemetry

_AQE_KEY = "spark.sql.adaptive.enabled"
_SHUF_KEY = "spark.sql.shuffle.partitions"

_lock = threading.Lock()
_active = 0          # entries currently inside the scope, all threads
_owner = None        # (spark, width, [(key, saved value)]) while active


@contextmanager
def tiny_plan(spark, nparts: int):
    """Run the enclosed plan-building AND its actions with AQE disabled
    and ``spark.sql.shuffle.partitions`` set to ``nparts`` (data-derived
    by the caller). An entry while a scope is active joins it (see the
    module docstring). Plans built inside but executed after the scope
    are planned with the restored session confs (callers must
    materialize inside the scope when that matters). The enclosing
    telemetry span records the width in effect and whether this entry
    owned the scope."""
    global _active, _owner
    with _lock:
        owner = _active == 0
        if owner:
            saved: list[tuple[str, str | None]] = []
            width = max(1, int(nparts))
            for key, val in ((_AQE_KEY, "false"), (_SHUF_KEY, str(width))):
                try:
                    saved.append((key, spark.conf.get(key, None)))
                    spark.conf.set(key, val)
                except Exception:  # noqa: BLE001 — conf is an optimization
                    pass
            _owner = (spark, width, saved)
        _active += 1
        width = _owner[1]
    try:
        span = telemetry.current_span()
        if span is not None and "tiny_plan_owner" not in span.attrs:
            # nested entries in the same span keep the outermost record
            telemetry.add_attrs(span, tiny_plan_width=width,
                                tiny_plan_owner=owner)
        yield
    finally:
        with _lock:
            _active -= 1
            if _active == 0:
                owner_spark, _, saved = _owner
                _owner = None
                for key, old in saved:
                    try:
                        if old is None:
                            owner_spark.conf.unset(key)
                        else:
                            owner_spark.conf.set(key, old)
                    except Exception:  # noqa: BLE001 — restore is best-effort
                        pass


def active_count() -> int:
    """Entries currently inside the shared scope (0 when idle)."""
    with _lock:
        return _active


def materialized_width(df) -> int:
    """Partition count of an already-materialized (checkpointed)
    DataFrame — the scale proxy handed to :func:`tiny_plan`. The frame
    was materialized under AQE, so this is the byte-coalesced width of
    the real data volume (1 at bench scale, hundreds+ at 100 TB)."""
    try:
        return max(1, df.rdd.getNumPartitions())
    except Exception:  # noqa: BLE001 — fall back to a safe small width
        return 1
