"""No module under ocr_spark/ caches a DataFrame with persist() or cache().

Staging goes through lazy ``localCheckpoint``: it cuts the lineage, so
a frame re-read in a loop plans from the staged rows. A persisted frame
keeps its whole plan, and an iterative job that joins it back round
after round plans a tree that doubles per round (connected_components
did, until a 7-edge chain ran the driver out of memory); its blocks also
stay pinned until someone calls unpersist.
"""

from __future__ import annotations

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
CACHING = re.compile(r"\.persist\(|\.cache\(\)")


def test_no_persist_or_cache_calls():
    found = [
        f"{path.relative_to(ROOT)}:{n}: {line.strip()}"
        for path in sorted((ROOT / "ocr_spark").rglob("*.py"))
        for n, line in enumerate(path.read_text(encoding="utf-8").splitlines(), 1)
        if CACHING.search(line)
    ]
    assert not found, "\n".join(found)
