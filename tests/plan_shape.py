"""Plan-shape helpers shared by the top-k plan tests."""

from __future__ import annotations

import re

_NODE = re.compile(r"^[\s:+\-]*(?:\*\(\d+\)\s*)?(\w+)")


def _node(line: str) -> str:
    m = _NODE.match(line)
    return m.group(1) if m else ""


def rank_window_cuts(plan: str) -> list[bool]:
    """One flag per ``row_number()`` window of an executed-plan string,
    top-down: True when the window's input is cut by Spark's partial
    ``WindowGroupLimit`` BELOW the window's own exchange — the chain
    Window → WindowGroupLimit (Final) → Sort → [AQE read] → Exchange →
    WindowGroupLimit (Partial) — so at most k rows per (partition,
    window group) reach the shuffle.  An executed adaptive plan prints
    its final and initial plans; only the initial one is read."""
    lines = plan.split("== Initial Plan ==")[-1].splitlines()
    cuts = []
    for i, line in enumerate(lines):
        if _node(line) != "Window" or "row_number()" not in line:
            continue
        chain = []
        for nxt in lines[i + 1:i + 8]:
            chain.append((_node(nxt), nxt.rstrip()))
            if chain[-1][0] == "Window" or chain[-1][1].endswith("Partial"):
                break
        names = [n for n, _ in chain]
        cuts.append(bool(
            chain
            and names[0] == "WindowGroupLimit"
            and chain[0][1].endswith("Final")
            and "Exchange" in names
            and names[-1] == "WindowGroupLimit"
            and chain[-1][1].endswith("Partial")))
    return cuts
