"""The one optimistic-concurrency commit loop of both table formats
(``deltalog._commit``, ``iceberg._commit`` supply its callbacks).

A writer publishes at the version it read + 1 by exclusive create.
When another writer took that version, the table is re-read once and
the winner validated, as the Delta PROTOCOL conflict rules and the
Iceberg spec (https://iceberg.apache.org/spec/#optimistic-concurrency)
both describe: a conflict raises, anything else rebuilds the commit on
the winner and retries.
"""

from __future__ import annotations

import logging

#: one record per commit: format, table, version, attempts, outcome
log = logging.getLogger("ballista_spark.commit")

#: lost commit races one commit absorbs before giving up
ATTEMPTS = 10


class ConcurrentCommitError(RuntimeError):
    """A concurrent commit conflicts with this one, or the commit lost
    the optimistic-concurrency race too many times."""


def commit(fmt, table, read, build, publish, reread, conflicts, applied):
    """Commit ``build(state)`` (None: nothing to commit), first on the
    state the writer ``read``; returns ``publish(state, attempt)``'s
    version, or None.  ``publish`` raises FileExistsError when the
    version is taken: then ``reread()`` gives the winner, ``applied``
    (the ``txn`` is in it) returns None, and ``conflicts(read, winner,
    attempt)`` names why the winner invalidates the attempt, or None to
    rebuild on the winner and retry."""
    state = read
    for attempts in range(1, ATTEMPTS + 1):
        attempt = build(state)
        if attempt is None:
            return _record(fmt, table, None, attempts, "empty")
        try:
            version = publish(state, attempt)
        except FileExistsError:
            state = reread()
            if applied(state):
                return _record(fmt, table, None, attempts, "replayed")
            why = conflicts(read, state, attempt)
            if why:
                _record(fmt, table, None, attempts, "conflict")
                raise ConcurrentCommitError(
                    f"a concurrent commit to {table!r} {why}; rerun on the "
                    "new snapshot"
                ) from None
            continue
        return _record(fmt, table, version, attempts, "committed")
    _record(fmt, table, None, ATTEMPTS, "gave up")
    raise ConcurrentCommitError(f"lost the commit race {ATTEMPTS} times at {table!r}")


def _record(fmt, table, version, attempts, outcome):
    fields = dict(format=fmt, table=table, version=version, attempts=attempts,
                  outcome=outcome)
    log.info(" ".join(f"{k}=%s" for k in fields), *fields.values(), extra=fields)
    return version
