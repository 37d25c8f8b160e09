"""Regenerate catalog._PRIORITY_ORDER for the next external window.

The external harness hash-checks a 50-query prefix of the registry per
round; catalog.py's CAPACITY note explains the 200-query/50-slot
saturation: the only valid rotation is "sort the registry by (latest
external round, name)" so the stalest block fills the next window.
Round 11 did this by hand from the CORRECTNESS_r*.json union; this
script makes the ritual mechanical and diffable:

    python scripts/rotate_window.py          # rewrite catalog.py in place
    python scripts/rotate_window.py --check  # exit 1 if rotation is due

Run it at the START of a round, after the driver has dropped the
previous round's CORRECTNESS file. The staleness invariant itself is
enforced by tests/test_catalog_invariants.py; this script is the
mechanism that keeps it satisfiable.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CATALOG = os.path.join(REPO, "rabbithole_spark", "catalog.py")


def correctness_history(repo: str = REPO) -> dict[str, int]:
    """query name -> latest round with an external correctness row."""
    latest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        with open(path) as f:
            for name in json.load(f):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def compute_order(
    names: list[str], latest: dict[str, int]
) -> list[tuple[int, str, list[str]]]:
    """Rotation rule: blocks of names sorted by (latest external round,
    name) — never-checked names (latest 0) lead, then the stalest
    block, each block alphabetical. Returns [(round, label,
    [names...]), ...] in emission order."""
    groups: dict[int, list[str]] = {}
    for n in names:
        groups.setdefault(latest.get(n, 0), []).append(n)
    out: list[tuple[int, str, list[str]]] = []
    if 0 in groups:
        out.append((0, "never externally checked", sorted(groups.pop(0))))
    for rnd in sorted(groups):
        out.append((rnd, f"latest external row: round {rnd}", sorted(groups[rnd])))
    return out


def render(order: list[tuple[int, list[str]]], next_round: int, window: int = 50) -> str:
    # which blocks actually feed the next window (and whether the cut
    # lands mid-block) — rendered into the header so the comment states
    # the real composition, not an assumed 0-49 = one-block layout
    taken = 0
    feeding = []
    for rnd, _, ns in order:
        if taken >= window:
            break
        feeding.append("new" if rnd == 0 else f"r{rnd}")
        taken += len(ns)
    total = sum(len(ns) for _, _, ns in order)
    # the feeding blocks can overshoot the cut (a block rarely ends
    # exactly at slot 49) — clamp so the header never claims more
    # names than the window holds (ADVICE r11)
    filling = min(taken, window, total)
    lines = [
        "_PRIORITY_ORDER = (",
        f"    # round-{next_round} window = slots 0-{min(window, total) - 1}"
        f" (regenerated by scripts/",
        "    # rotate_window.py from the CORRECTNESS_r*.json union): registry",
        "    # sorted by (latest external round, name) — the stalest block(s)",
        "    # fill the window, never-checked names lead. This window draws",
        f"    # from block(s): {', '.join(feeding)}"
        f" ({filling} names fill the window).",
    ]
    for _, label, ns in order:
        lines.append(f"    # --- {label} ---")
        for n in ns:
            lines.append(f'    "{n}",')
    lines.append(")")
    return "\n".join(lines)


def _tuple_names(region: str) -> list[str]:
    """Names in a rendered ``_PRIORITY_ORDER = (...)`` region, parsed
    with ast.literal_eval instead of a bare string-literal regex — a
    hand-written comment containing a double-quoted lowercase word
    must not corrupt the current/target comparison (ADVICE r11).
    ast handles the interleaved ``#`` comments; only real tuple
    elements come back."""
    import ast

    _, _, expr = region.partition("=")
    return [str(n) for n in ast.literal_eval(expr.strip())]


def rotate(check_only: bool = False) -> int:
    sys.path.insert(0, REPO)
    from rabbithole_spark import catalog

    names = list(catalog.load_all())
    latest = correctness_history()
    unknown = [n for n in latest if n not in set(names)]
    if unknown:
        print(f"note: {len(unknown)} historical names no longer registered "
              f"(retired): {sorted(unknown)[:5]}...")
    order = compute_order(names, latest)
    next_round = (max(latest.values(), default=0)) + 1
    new_tuple = render(order, next_round)

    src = open(CATALOG).read()
    m = re.search(r"_PRIORITY_ORDER = \(.*?\n\)", src, re.S)
    if not m:
        print("could not locate _PRIORITY_ORDER in catalog.py")
        return 2
    current_names = _tuple_names(m.group(0))
    target_names = _tuple_names(new_tuple)
    if current_names == target_names:
        print(f"window already rotated for round {next_round} (no change)")
        return 0
    if check_only:
        print(f"rotation DUE for round {next_round}: window would be "
              f"{target_names[:3]}... (run without --check to apply)")
        return 1
    # atomic replace: a mid-write interrupt must not truncate the
    # module every import depends on (round-11 review)
    tmp = CATALOG + ".rotate_tmp"
    with open(tmp, "w") as f:
        f.write(src[: m.start()] + new_tuple + src[m.end():])
    os.replace(tmp, CATALOG)
    print(f"rotated: round-{next_round} window = {len(target_names[:50])} slots, "
          f"first 3 = {target_names[:3]}")
    return 0


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--check", action="store_true",
                    help="exit 1 if a rotation is due, change nothing")
    sys.exit(rotate(check_only=ap.parse_args().check))
