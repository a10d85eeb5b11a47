"""Copy guard: no run of 12 or more lines appears twice in the package.

Lines are compared with whitespace collapsed; blank lines and ``#`` comment
lines are skipped. A query that builds on another (a composition, a
streaming twin, an oracle) calls or references the one statement of the
semantics it shares instead of re-typing it. Pure Python, no Spark.
"""

from __future__ import annotations

from collections import defaultdict
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "rust_ruuvitag_etl_spark"
WINDOW = 12


def _lines(path: Path) -> list[tuple[int, str]]:
    out = []
    for no, raw in enumerate(path.read_text().splitlines(), 1):
        text = " ".join(raw.split())
        if text and not text.startswith("#"):
            out.append((no, text))
    return out


def copied_runs(root: Path = PACKAGE, window: int = WINDOW) -> list[list[str]]:
    """Each group of places sharing one ``window``-line run, as
    ``path:line`` strings; overlapping windows of one copy are merged."""
    seen: dict[tuple[str, ...], list[tuple[str, int, int]]] = defaultdict(list)
    for path in sorted(root.rglob("*.py")):
        lines = _lines(path)
        rel = str(path.relative_to(root))
        for i in range(len(lines) - window + 1):
            key = tuple(t for _, t in lines[i:i + window])
            seen[key].append((rel, i, lines[i][0]))
    groups: dict[tuple, list[str]] = {}
    for places in seen.values():
        if len(places) < 2:
            continue
        # A copy spanning k + window lines shows up as k consecutive
        # windows; keep the first window of each run only.
        anchor = tuple((rel, i) for rel, i, _ in places)
        prev = tuple((rel, i - 1) for rel, i, _ in places)
        if prev in groups:
            groups[anchor] = groups.pop(prev)
            continue
        groups[anchor] = [f"{rel}:{no}" for rel, _, no in places]
    return sorted(groups.values())


def test_no_copied_runs():
    runs = copied_runs()
    assert not runs, "\n".join(", ".join(g) for g in runs)


def test_guard_finds_a_planted_copy(tmp_path):
    body = "".join(f"    x{i} = spark.table('t{i}')  # note\n" for i in range(WINDOW))
    (tmp_path / "a.py").write_text("def f():\n" + body)
    (tmp_path / "b.py").write_text("def g():\n\n    # only comments differ\n" + body)
    (tmp_path / "c.py").write_text("def h():\n" + body.replace("t3", "u3"))
    assert copied_runs(tmp_path) == [["a.py:2", "b.py:4"]]
