"""Compute the next grading window from the CORRECTNESS_r*.json files.

Usage: python tools/next_window.py

The round driver grades the first 50 registry entries each round and
writes what it graded to CORRECTNESS_rNN.json (one key per query). The
next window is the 50 registered queries whose newest driver row is
oldest: never-graded queries first (round 0), then by the newest round
each was graded in, ties broken by name. Prints the window after the
newest CORRECTNESS file as the ``_GRADE_FIRST`` literal that
``seamless_sharepoint_etl_spark/registry.py`` carries.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def round_of(path: str) -> int:
    m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
    if m is None:
        raise ValueError(f"not a CORRECTNESS_rNN.json file: {path}")
    return int(m.group(1))


def correctness_files() -> list[str]:
    return sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")), key=round_of)


def next_window(paths, names, size: int = 50) -> list[str]:
    newest: dict[str, int] = {}
    for path in paths:
        rnd = round_of(path)
        with open(path) as f:
            for name in json.load(f):
                newest[name] = max(newest.get(name, 0), rnd)
    return sorted(names, key=lambda n: (newest.get(n, 0), n))[:size]


def main() -> None:
    sys.path.insert(0, ROOT)
    from seamless_sharepoint_etl_spark import registry

    window = next_window(correctness_files(), registry.queries())
    print("_GRADE_FIRST = [")
    for name in window:
        print(f'    "{name}",')
    print("]")


if __name__ == "__main__":
    main()
