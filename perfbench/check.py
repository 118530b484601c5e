"""Answer checks for every benchmark operation.

Each check returns ``None`` when the answer is right and a one-line reason
when it is wrong; the caller counts a reason as a failed operation.

- ``tpch_matches``: the spec-dialect Spark answer against DuckDB running the
  query's oracle SQL on the same files.  Non-float values must be equal and
  floats equal within the quantization the oracle dialect introduces
  (money sums rounded at 2 decimals, averages at 6: ``rel 1e-4, abs 5e-3``),
  the tolerance the repository's spec-dialect contract test allows.
- ``value_hash_matches``: the oracle gate's value-hash discipline, for the
  corpus entries.  Both sides are normalized (columns sorted by name,
  timestamps to naive UTC, decimals to float, nested values to tuples),
  their rows sorted, and the md5 of the result compared, so the comparison
  is order-insensitive and bit-exact.
- ``rows_equal``: plain equality of row count and row values, for answers
  the benchmark reduces to one row of totals (lakehouse commits, Flight
  checksums).

``self_test`` feeds a perturbed answer through a check and raises unless
it is rejected, so a checker that accepts everything fails the run.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math


def _canon(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v
    if isinstance(v, dict):
        return tuple(_canon(x) for x in v.values())
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v)
    return v


def _by_name(columns: list[str], rows) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return [tuple(_canon(row[i]) for i in order) for row in rows]


def value_hash(columns: list[str], rows) -> str:
    """md5 over the normalized, row-sorted result (see module docstring)."""
    canon = sorted(_by_name(columns, rows), key=repr)
    head = repr(sorted(columns))
    return hashlib.md5((head + repr(canon)).encode()).hexdigest()


def value_hash_matches(got_cols, got_rows, want_cols, want_rows) -> str | None:
    if len(got_rows) != len(want_rows):
        return f"row count {len(got_rows)} != oracle {len(want_rows)}"
    if value_hash(got_cols, got_rows) != value_hash(want_cols, want_rows):
        return "value hash differs from oracle"
    return None


def rows_equal(got_cols, got_rows, want_cols, want_rows) -> str | None:
    got, want = [tuple(r) for r in got_rows], [tuple(r) for r in want_rows]
    if len(got) != len(want):
        return f"row count {len(got)} != expected {len(want)}"
    if got != want:
        return f"values {got[:2]!r} != expected {want[:2]!r}"
    return None


def _sort_key(row: tuple) -> tuple:
    exact = tuple(repr(v) for v in row if not isinstance(v, float))
    approx = tuple(round(v, 2) for v in row if isinstance(v, float))
    return exact + approx


def tpch_matches(got_cols, got_rows, want_cols, want_rows) -> str | None:
    if list(got_cols) != list(want_cols):
        return f"columns {list(got_cols)} != oracle {list(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"row count {len(got_rows)} != oracle {len(want_rows)}"
    got = sorted((tuple(_canon(v) for v in r) for r in got_rows), key=_sort_key)
    want = sorted((tuple(_canon(v) for v in r) for r in want_rows), key=_sort_key)
    for a, b in zip(got, want):
        for va, vb in zip(a, b):
            if isinstance(va, float) and isinstance(vb, float):
                if not (va == vb or math.isclose(va, vb, rel_tol=1e-4, abs_tol=5e-3)):
                    return f"value {va!r} != oracle {vb!r}"
            elif va != vb:
                return f"value {va!r} != oracle {vb!r}"
    return None


def perturbed(rows: list[tuple]) -> list[tuple]:
    """``rows`` with one value changed: the first number is bumped by 1%
    plus one (so zero moves too), or failing that the last row is dropped."""
    rows = [tuple(r) for r in rows]
    for i, row in enumerate(rows):
        for j, v in enumerate(row):
            if isinstance(v, (int, float, decimal.Decimal)) and not isinstance(v, bool):
                bumped = float(v) * 1.01 + 1 if isinstance(v, float) else v + 1
                rows[i] = row[:j] + (bumped,) + row[j + 1:]
                return rows
    return rows[:-1]


def self_test(check, cols, rows) -> None:
    """Raise unless ``check`` accepts ``rows`` and rejects a perturbed copy."""
    if check(cols, rows, cols, rows) is not None:
        raise AssertionError(f"{check.__name__} rejects an identical answer")
    if rows and check(cols, perturbed(rows), cols, rows) is None:
        raise AssertionError(f"{check.__name__} accepts a perturbed answer")
