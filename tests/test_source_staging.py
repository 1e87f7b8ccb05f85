"""Every lineage cut under ocr_spark/ goes through ``sources.catalog.stage``.

``stage`` is the one place that knows the staging policy (lazy, not
``persist()``, executor-local; see its docstring). A persisted frame
keeps its whole plan, and an iterative job that joins it back round
after round plans a tree that doubles per round (connected_components
did, until a 7-edge chain ran the driver out of memory); its blocks also
stay pinned until someone calls unpersist. Collecting a frame and
rebuilding it with ``createDataFrame(df.toArrow())`` is a second way to
cut the lineage, through the driver.
"""

from __future__ import annotations

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
CACHING = re.compile(r"\.persist\(|\.cache\(\)")
CATALOG = ROOT / "ocr_spark" / "sources" / "catalog.py"


def _grep(pattern: re.Pattern, under: str = "ocr_spark") -> list[str]:
    return [
        f"{path.relative_to(ROOT)}:{n}: {line.strip()}"
        for path in sorted((ROOT / under).rglob("*.py"))
        for n, line in enumerate(path.read_text(encoding="utf-8").splitlines(), 1)
        if pattern.search(line)
    ]


def test_no_persist_or_cache_calls():
    found = _grep(CACHING)
    assert not found, "\n".join(found)


def test_local_checkpoint_only_inside_stage():
    found = _grep(re.compile(r"localCheckpoint\("))
    assert len(found) == 1, "\n".join(found)
    path, line, _ = found[0].split(":", 2)
    assert path == str(CATALOG.relative_to(ROOT)), found
    tree = ast.parse(CATALOG.read_text(encoding="utf-8"))
    (fn,) = [
        n for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "stage"
    ]
    assert fn.lineno <= int(line) <= fn.end_lineno, found
    args = fn.args
    assert [a.arg for a in args.posonlyargs + args.args] == ["df"]
    assert not (args.vararg or args.kwonlyargs or args.kwarg)


def test_no_arrow_round_trip_rebuilds_a_frame_in_operators():
    found = []
    for path in sorted((ROOT / "ocr_spark" / "operators").rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and any(
                    isinstance(sub, ast.Attribute) and sub.attr == "toArrow"
                    for arg in node.args + [k.value for k in node.keywords]
                    for sub in ast.walk(arg)
                )
            ):
                found.append(f"{path.relative_to(ROOT)}:{node.lineno}")
    assert not found, "\n".join(found)
