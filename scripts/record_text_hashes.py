#!/usr/bin/env python3
"""Fold a new CORRECTNESS_r{N}.json into tests/graded_text_hashes.json.

This is the whole fold-in: run it once after the newest
CORRECTNESS file is committed and before any graded query's text is
edited again.  Names green in that file take their current text hash;
every other graded name keeps the hash it was recorded with, so a row
whose text changed and which the newest window did not regrade stays
superseded and heads the next window.  Grade ages and the superseded set
are derived from these files at ``registry.ordered_queries()`` time
(flink_1_12_0_spark/grading.py); nothing else needs editing.

Usage:  python3 scripts/record_text_hashes.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_1_12_0_spark import grading  # noqa: E402

if __name__ == "__main__":
    hashes = grading.fold_in()
    with open(grading.HASHES_PATH, "w") as f:
        json.dump(hashes, f, indent=0, sort_keys=True)
        f.write("\n")
    print(f"recorded {len(hashes)} graded-query text hashes -> "
          f"{grading.HASHES_PATH}")
