"""Compute the next round's driver window from CORRECTNESS artifacts.

The grading driver hash-checks only the FIRST 50 registry entries, so
`api.py` keeps a `_CHECK_FIRST` rotation list (current window) and a
`_PRIOR_ROUND_GREEN` set (entries proven last round). This tool makes
the standing half-swap mechanical: it reads every CORRECTNESS_r*.json
in the repo root, ranks entries by how stale their newest green row
is (never-green first, then oldest-green), and prints ready-to-paste
Python literals for the next round's two lists.

Usage: python tools/rotate_window.py [--dir REPO] [--window 50]
"""
from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def load_green_rounds(repo: str) -> dict[int, set[str]]:
    """{round: set of entry names with a green (hash/rows) row}."""
    out: dict[int, set[str]] = {}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        data = json.load(open(path))
        green = {
            name
            for name, row in data.items()
            if isinstance(row, dict)
            and row.get("err") is None
            and row.get("rows_match")
            and (row.get("hash_match") or row.get("hash_match") is None)
        }
        if green:
            out[rnd] = green
    return out


def plan_next_window(
    registry_names: list[str],
    rounds: dict[int, set[str]],
    window: int,
    force: tuple[str, ...] = (),
) -> tuple[list[str], set[str]]:
    """(next _CHECK_FIRST, next _PRIOR_ROUND_GREEN).

    Staleness rank: entries never driver-green come first, then
    ascending by their newest green round; ties keep registry order so
    the output is deterministic. ``force`` names entries whose
    SEMANTICS changed this round — their old green rows prove the old
    code, so they rank as if never green (the r13 lexical-store
    rework is the precedent). The prior-green set is every green
    entry the cut left outside the window."""
    latest = {}
    for rnd, names in rounds.items():
        for n in names:
            latest[n] = max(latest.get(n, 0), rnd)
    for n in force:
        latest.pop(n, None)
    order = {n: i for i, n in enumerate(registry_names)}
    ranked = sorted(registry_names, key=lambda n: (latest.get(n, -1), order[n]))
    nxt = ranked[:window]
    # Prior-green = every registry entry with a driver-green row in ANY
    # round that the stalest-first cut left outside the window. With
    # exactly 2×window entries this is the newest round's green set;
    # when new entries displace proven ones (registry > 2×window), the
    # displaced names stay covered by their older green rows and cycle
    # back in on the next rotation. Never-green entries can ONLY be in
    # the window — the api.py import guard keeps that loud.
    green_any = set(latest) & set(registry_names)
    prior = green_any - set(nxt)
    return nxt, prior


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default=ROOT)
    ap.add_argument("--window", type=int, default=50)
    ap.add_argument(
        "--force",
        default="",
        help="comma-separated entries whose semantics changed this "
        "round: ranked as never-green (their old rows prove old code)",
    )
    args = ap.parse_args()

    import __spark_entry__ as entry  # noqa: registry order as the driver sees it

    names = list(entry.queries())
    rounds = load_green_rounds(args.dir)
    force = tuple(n for n in (args.force or "").split(",") if n)
    nxt, prior = plan_next_window(names, rounds, args.window, force)

    uncovered = [n for n in names if n not in nxt and n not in prior]
    print(f"# artifacts: rounds {sorted(rounds)} | registry {len(names)} entries")
    if uncovered:
        print(f"# WARNING: {len(uncovered)} entries outside window AND prior-green:")
        for n in uncovered:
            print(f"#   {n}")
    print("\n_CHECK_FIRST: list[str] = [")
    for n in nxt:
        print(f'    "{n}",')
    print("]\n")
    print("_PRIOR_ROUND_GREEN: frozenset[str] = frozenset(")
    print("    {")
    for n in sorted(prior):
        print(f'        "{n}",')
    print("    }")
    print(")")


if __name__ == "__main__":
    main()
