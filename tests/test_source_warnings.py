"""Every module under ocr_spark/ compiles with warnings as errors.

Invalid escape sequences in string literals ("\\[" in a regex) compile
with a DeprecationWarning today and a SyntaxError in a later Python;
this keeps new ones out.
"""

from __future__ import annotations

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
