"""Every module under ocr_spark/ compiles with warnings as errors.

Invalid escape sequences in string literals ("\\[" in a regex) compile
with a DeprecationWarning today and a SyntaxError in a later Python;
this keeps new ones out.

No dict display under ocr_spark/ or tools/ repeats a literal key:
Python keeps the last entry of a repeated key without a warning, so
the earlier one is dead text that reads as live.
"""

from __future__ import annotations

import ast
import pathlib
import warnings

ROOT = pathlib.Path(__file__).resolve().parent.parent


def test_sources_compile_without_warnings():
    failed = []
    for path in sorted((ROOT / "ocr_spark").rglob("*.py")):
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            try:
                compile(path.read_text(encoding="utf-8"), str(path), "exec")
            except SyntaxError as e:
                failed.append(f"{path.relative_to(ROOT)}:{e.lineno}: {e.msg}")
    assert not failed, "\n".join(failed)


def test_no_dict_display_repeats_a_literal_key():
    repeated = []
    for top in ("ocr_spark", "tools"):
        for path in sorted((ROOT / top).rglob("*.py")):
            tree = ast.parse(path.read_text(encoding="utf-8"), str(path))
            for node in ast.walk(tree):
                if not isinstance(node, ast.Dict):
                    continue
                seen = set()
                for key in node.keys:
                    if not isinstance(key, ast.Constant):
                        continue
                    k = (type(key.value), key.value)
                    if k in seen:
                        repeated.append(
                            f"{path.relative_to(ROOT)}:{key.lineno}: {key.value!r}"
                        )
                    seen.add(k)
    assert not repeated, "\n".join(repeated)
