"""Every media extractor in operators/multimodal.py runs through one
Python stage.

The Arrow batch crossing into Python is written once, in
``_payload_rows``: an extractor is a parse function handed to it, not a
new ``mapInPandas`` loop. ``with_phash`` keeps its own pass-through
stage, because it appends a column to the input rows instead of
emitting new ones.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
MULTIMODAL = ROOT / "ocr_spark" / "operators" / "multimodal.py"


def test_multimodal_calls_map_in_pandas_only_in_payload_rows_and_with_phash():
    tree = ast.parse(MULTIMODAL.read_text(encoding="utf-8"), str(MULTIMODAL))
    callers = {}
    for top in tree.body:
        for node in ast.walk(top):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "mapInPandas"
            ):
                name = getattr(top, "name", f"<line {top.lineno}>")
                callers.setdefault(name, []).append(node.lineno)
    assert sorted(callers) == ["_payload_rows", "with_phash"], callers
    assert all(len(lines) == 1 for lines in callers.values()), callers
