"""The one iterative-fit driver: ``pagerank``, ``bt_strengths``,
``connected_components``, ``logreg_fit`` and ``softmax_fit`` run their
rounds through :func:`iterate`.

Every round is a Spark plan (Ballista's stage model, SURVEY §0) whose
lineage must be cut, or each round and each consumer of the result
replays every round before it.  One rule cuts it: a round's frame is
declared ``localCheckpoint(eager=False)`` and materialized by the
round's own action, the convergence delta or the fit's driver read.
That one job computes each partition once, the checkpoint keeps it,
and the next round reads the kept copy (an eager checkpoint plus the
read would be two jobs).  A round with no action is materialized with
the chain by the caller's first action; under AQE its shuffle stages
already run when the checkpoint is declared.  A lazy ``persist`` that
no action covers before it is dropped is never safe: every round then
recomputes the whole chain (3×+ inside ``curate_corpus``, measured
before ``connected_components`` followed this rule).
"""

from __future__ import annotations

import logging
import time
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame

#: one record per fit: operator, rounds, converged, delta, seconds
log = logging.getLogger("ballista_spark.fit")


class Fit(NamedTuple):
    state: DataFrame
    rounds: int
    converged: bool


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    rounds: int,
    tol: float = 0.0,
    delta: Callable[[DataFrame], float | None] | None = None,
) -> Fit:
    """Run ``state = step(state)``, checkpointed, for up to ``rounds``
    rounds.  ``delta(state)``, when given, is each round's one action;
    with ``tol > 0`` the fit converges, and stops, at the first round
    whose delta is below ``tol``.  Logs one record on ``log``, naming
    the function that defines ``step``."""
    start = time.perf_counter()
    done, d, converged = 0, None, False
    while done < rounds and not converged:
        state = step(state).localCheckpoint(eager=False)
        done += 1
        if delta is not None:
            d = delta(state)
            converged = tol > 0 and d < tol
    fields = dict(
        operator=step.__qualname__.split(".")[0], rounds=done,
        converged=converged, delta=d,
        seconds=round(time.perf_counter() - start, 3),
    )
    log.info(" ".join(f"{k}=%s" for k in fields), *fields.values(), extra=fields)
    return Fit(state, done, converged)
