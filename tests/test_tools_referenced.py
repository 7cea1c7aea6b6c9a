"""Every script under ``tools/`` must be reachable from the maintained
surface: ``README.md``, ``bench.py``, a test, the package, or another
reachable tool. A tool cited only from a dated report is a one-off and
belongs in git history, not in the tree."""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _mentions(text: str, names) -> set[str]:
    return {n for n in names if re.search(rf"\b{re.escape(n)}\b", text)}


def test_every_tool_is_referenced():
    tools = {p.stem: p.read_text() for p in (ROOT / "tools").glob("*.py")}
    surface = [
        ROOT / "README.md",
        ROOT / "bench.py",
        *(ROOT / "tests").glob("*.py"),
        *(ROOT / "bunsen_spark").rglob("*.py"),
    ]
    reached = _mentions("\n".join(p.read_text() for p in surface), tools)
    frontier = reached
    while frontier:
        text = "\n".join(tools[n] for n in frontier)
        frontier = _mentions(text, tools.keys() - reached)
        reached |= frontier
    assert sorted(tools.keys() - reached) == []
