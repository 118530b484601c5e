#!/usr/bin/env python
"""Regenerate tools/test_tiers.json — the slow-test list that conftest.py
defers to the BS_TEST_FULL tier (r11, VERDICT r10 item 2).

The driver's verify window runs ``pytest tests/`` serially and was
truncating at ~67% of the full suite (~51 min healthy serial, growing):
``tests_ok`` came back false by TIMEOUT with zero failures.  The fix is
the tier split the r10 verdict prescribed: the default run keeps every
test under the duration threshold (the broad fast coverage), and the
slow tail — scale sweeps, lakehouse lifecycle suites, iterative-fit
mirrors — runs under ``BS_TEST_FULL=1`` exactly like the sf0.01 graded
gate already does.  Durations come from the most recent
``tools/partest.py`` run's junit XMLs (tools/.partest_logs/*.xml).

Keys are pytest nodeids without their directory (``test_x.py::name[p]``,
``test_x.py::Class::name[p]``); :func:`tier_key` is the one place that
format is built, here from junit records and in tests/conftest.py from
collected nodeids.

Usage:
    python tools/partest.py -n 8      # produces fresh junit XMLs
    python tools/gen_test_tiers.py    # regenerates tools/test_tiers.json
"""

from __future__ import annotations

import glob
import json
import os
import sys
import xml.etree.ElementTree as ET

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LOG_DIR = os.path.join(REPO, "tools", ".partest_logs")
OUT = os.path.join(REPO, "tools", "test_tiers.json")

#: seconds (as measured by the sharded runner) above which a test is
#: deferred to the BS_TEST_FULL tier.  At 10 s the default tier keeps
#: ~83% of tests and ~16% of wall time (r11 measurement: 1176 tests,
#: 199 over threshold carrying 84% of the 10530 s sharded total).
THRESHOLD_S = 10.0

#: tests kept in the default tier whatever their duration: the only
#: default-tier checks of CsvScan + selection/predicates + limit/offset,
#: of funnel/retention analytics, and of as-of/range joins + sessionization
ALWAYS_RUN = frozenset(
    {
        "test_graded.py::test_graded_smoke_scale[cov_csv_select]",
        "test_graded.py::test_graded_smoke_scale[cov_events_analytics]",
        "test_graded.py::test_graded_smoke_scale[cov_interval_joins]",
    }
)


def tier_key(nodeid: str) -> str:
    """Tier-list key of a pytest nodeid: the nodeid without its directory
    (``tests/test_x.py::Class::name[p]`` -> ``test_x.py::Class::name[p]``)."""
    path, sep, rest = nodeid.partition("::")
    return os.path.basename(path) + sep + rest


def junit_key(case: ET.Element) -> str:
    """:func:`tier_key` of one junit ``<testcase>``, whose classname is the
    dotted module path plus any enclosing classes (``tests.test_x.TestFoo``);
    empty when the classname names no test module."""
    parts = (case.get("classname") or "").split(".")
    i = next((i for i, p in enumerate(parts) if p.startswith("test_")), None)
    if i is None:
        return ""
    name = case.get("name") or ""
    return tier_key("::".join((parts[i] + ".py", *parts[i + 1 :], name)))


def main() -> int:
    slow: dict[str, float] = {}
    n_total = 0
    for x in sorted(glob.glob(os.path.join(LOG_DIR, "*.xml"))):
        try:
            root = ET.parse(x).getroot()
        except (OSError, ET.ParseError):
            continue
        for case in root.iter("testcase"):
            n_total += 1
            t = float(case.get("time") or 0.0)
            key = junit_key(case)
            if t > THRESHOLD_S and key and key not in ALWAYS_RUN:
                slow[key] = max(slow.get(key, 0.0), round(t, 1))
    if not slow:
        print("no junit XMLs found — run tools/partest.py first", file=sys.stderr)
        return 2
    with open(OUT, "w") as f:
        json.dump(
            {
                "threshold_s": THRESHOLD_S,
                "n_total_seen": n_total,
                "slow": dict(sorted(slow.items())),
            },
            f,
            indent=0,
        )
    print(
        f"{len(slow)}/{n_total} tests over {THRESHOLD_S:.0f}s -> {OUT} "
        f"({sum(slow.values()):.0f}s deferred to BS_TEST_FULL)"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
