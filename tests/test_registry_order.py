"""Each external correctness round (``CORRECTNESS_r*.json``) checks
only the first 50 registry entries.  Every query that no committed
round has checked must sit inside that window, so the next round
checks it."""

import glob
import json
import os

from mcp_ocr_server_spark.queries import QUERIES

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = 50


def test_never_checked_queries_sit_in_the_checked_window():
    rounds = sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")))
    assert rounds, "no committed correctness rounds to read"
    checked: set[str] = set()
    for path in rounds:
        with open(path) as f:
            checked |= set(json.load(f))
    outside = [q for q in list(QUERIES)[WINDOW:] if q not in checked]
    assert outside == [], f"never checked, outside the first {WINDOW}"
