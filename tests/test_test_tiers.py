"""Guard for the slow-tier list (tools/test_tiers.json, read by
conftest.py): its keys name real test files, the always-run set is never
deferred, and keys round-trip for class-based tests.  Pure Python."""

from __future__ import annotations

import json
import os
import xml.etree.ElementTree as ET

from tools.gen_test_tiers import ALWAYS_RUN, OUT, junit_key, tier_key

TESTS = os.path.dirname(os.path.abspath(__file__))


def _slow() -> dict[str, float]:
    with open(OUT) as f:
        return json.load(f)["slow"]


def test_tier_keys_name_existing_test_files():
    missing = [
        k
        for k in [*_slow(), *ALWAYS_RUN]
        if not os.path.isfile(os.path.join(TESTS, k.split("::")[0]))
    ]
    assert not missing, missing


def test_always_run_tests_are_never_deferred():
    assert not ALWAYS_RUN & set(_slow())


def test_class_based_nodeid_round_trips():
    key = "test_x.py::TestFoo::test_bar[a-b]"
    assert tier_key(key) == key
    assert tier_key("tests/" + key) == key
    case = ET.Element(
        "testcase", classname="tests.test_x.TestFoo", name="test_bar[a-b]"
    )
    assert junit_key(case) == key
    plain = ET.Element("testcase", classname="tests.test_x", name="test_baz")
    assert junit_key(plain) == tier_key("tests/test_x.py::test_baz")
    assert junit_key(plain) == "test_x.py::test_baz"
