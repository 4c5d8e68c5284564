"""The type-tagged canonical form of a result, from ``tools/verify_local.py``
(loaded from that file), so the benchmark compares outputs exactly as the
local differential verifier does."""

from __future__ import annotations

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "verify_local",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "verify_local.py"),
)
_vl = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_vl)


def rows(df) -> tuple[list[str], list[tuple]]:
    """pandas frame -> (sorted column names, sorted type-tagged rows)."""
    return _vl.canon(df)
