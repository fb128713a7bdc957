#!/usr/bin/env python
"""Turn a pytest JUnit report into ``tests/durations.json``.

``tests/conftest.py`` runs the tests whose recorded time is under a
second first, so a suite cut by its time limit has still given a
verdict on every quick test. This script refreshes that record.

Usage:
    python -m pytest tests/ -p no:cacheprovider --junitxml=report.xml
    python scripts/test_durations.py report.xml [more.xml ...]

Each report's times (setup + call + teardown, in seconds) are merged
into the existing file; a test in several reports keeps the last time.
"""
from __future__ import annotations

import json
import os
import sys
import xml.etree.ElementTree as ET

OUT = os.path.join(os.path.dirname(__file__), "..", "tests", "durations.json")


def durations(report: str) -> dict[str, float]:
    out = {}
    for case in ET.parse(report).iter("testcase"):
        if case.find("skipped") is not None:
            continue
        path = case.get("classname").replace(".", "/") + ".py"
        out[f"{path}::{case.get('name')}"] = round(float(case.get("time")), 2)
    return out


def main(reports: list[str]) -> None:
    merged = {}
    if os.path.exists(OUT):
        with open(OUT) as f:
            merged = json.load(f)
    for report in reports:
        merged.update(durations(report))
    with open(OUT, "w") as f:
        json.dump(dict(sorted(merged.items())), f, indent=0)
        f.write("\n")


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    main(sys.argv[1:])
