"""Registry-hygiene invariants for the external verification window.

The external harness checks a 50-query prefix of the registry order per
round. With 186+ registered queries, full-registry refresh takes ~4
rounds; these tests pin the ordering discipline so no query's external
correctness row can silently go stale beyond that horizon.
"""

from __future__ import annotations

import glob
import json
import os
import re

import pytest

from rabbithole_spark import catalog

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW = 50  # external harness checks this many queries per round


def _correctness_history() -> tuple[int, dict[str, int]]:
    """(latest completed round, query -> latest round externally checked)."""
    latest: dict[str, int] = {}
    max_round = 0
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        max_round = max(max_round, rnd)
        with open(path) as f:
            for name in json.load(f):
                latest[name] = max(latest.get(name, 0), rnd)
    return max_round, latest


def test_priority_order_names_are_registered():
    """Every name in _PRIORITY_ORDER refers to a registered query.

    A typo here silently burns a window slot (unknown names are
    ignored by load_all), so pin exact membership.
    """
    registered = set(catalog.load_all())
    unknown = [n for n in catalog._PRIORITY_ORDER if n not in registered]
    assert unknown == [], f"priority-order names not registered: {unknown}"


def test_load_all_fails_loudly_on_missing_query_module(monkeypatch):
    """A query module that cannot be imported must raise, not silently
    shrink the registry."""
    monkeypatch.setattr(
        catalog,
        "_QUERY_MODULES",
        catalog._QUERY_MODULES + ("rabbithole_spark.queries.no_such_module",),
    )
    with pytest.raises(ModuleNotFoundError):
        catalog.load_all()


def test_priority_order_has_no_duplicates():
    po = catalog._PRIORITY_ORDER
    dupes = [n for n in set(po) if po.count(n) > 1]
    assert dupes == [], f"duplicate priority-order names: {dupes}"


def test_registry_prefix_is_priority_order():
    """load_all() must actually emit the priority order as its prefix."""
    ordered = list(catalog.load_all())
    assert tuple(ordered[: len(catalog._PRIORITY_ORDER)]) == catalog._PRIORITY_ORDER


def test_no_query_staler_than_four_rounds():
    """Staleness invariant: with a 50-slot window, every registered
    query must either (a) have an external correctness row within the
    last 4 completed rounds, or (b) sit inside the upcoming window's
    50-query prefix (i.e., be queued for a fresh row next round).

    This is the documented catalog.py ordering contract; breaking it
    means some query's last external verification silently ages out.
    """
    max_round, latest = _correctness_history()
    if max_round == 0:
        pytest.skip("no CORRECTNESS_r*.json files present")
    queued = set(catalog._PRIORITY_ORDER[:WINDOW])
    stale = []
    for name in catalog.load_all():
        last = latest.get(name, 0)
        if last >= max_round - 3:  # checked within the last 4 rounds
            continue
        if name in queued:  # scheduled for the next window
            continue
        stale.append((name, last or "never"))
    assert stale == [], (
        f"queries stale >4 rounds and not queued in the next "
        f"{WINDOW}-slot window: {stale}"
    )


def test_never_checked_queries_lead_the_window():
    """Queries with no external row ever must occupy the EARLIEST
    window slots — a first external verification outranks a refresh,
    so the never-checked set must be a contiguous prefix of the
    registry order, not merely somewhere inside the window."""
    max_round, latest = _correctness_history()
    if max_round == 0:
        pytest.skip("no CORRECTNESS_r*.json files present")
    ordered = list(catalog.load_all())
    never = [n for n in ordered if n not in latest]
    if not never:
        pytest.skip("all registered queries have an external row")
    if len(never) > WINDOW:
        never = never[:WINDOW]  # overflow: at least fill the window
    positions = sorted(ordered.index(n) for n in never)
    assert positions == list(range(len(never))), (
        f"never-externally-checked queries must occupy slots "
        f"0..{len(never) - 1}; found them at {positions}"
    )


def test_rotate_window_rule_on_synthetic_history():
    """scripts/rotate_window.py encodes the rotation rule the invariant
    above depends on: registry sorted by (latest external round, name),
    never-checked names first, blocks alphabetical — and its rendering
    round-trips through the same regex the script uses to splice
    catalog.py."""
    import re as _re
    import sys

    sys.path.insert(0, REPO)
    from scripts.rotate_window import compute_order, render

    names = ["q_c", "q_a", "q_b", "q_new", "q_old"]
    latest = {"q_a": 3, "q_b": 2, "q_c": 3, "q_old": 1}  # q_new: never
    order = compute_order(names, latest)
    assert [(rnd, ns) for rnd, _, ns in order] == [
        (0, ["q_new"]),
        (1, ["q_old"]),
        (2, ["q_b"]),
        (3, ["q_a", "q_c"]),
    ]
    rendered = render(order, next_round=4)
    flat = _re.findall(r'"([a-z0-9_]+)"', rendered)
    assert flat == ["q_new", "q_old", "q_b", "q_a", "q_c"]
    assert rendered.startswith("_PRIORITY_ORDER = (")
    assert rendered.rstrip().endswith(")")
    # splice-compatibility with the script's own regex
    m = _re.search(r"_PRIORITY_ORDER = \(.*?\n\)", rendered, _re.S)
    assert m and m.group(0) == rendered


def test_rotate_window_check_runs_against_live_catalog():
    """--check must parse the live catalog and CORRECTNESS history and
    return a *decision* (0 = rotated, 1 = rotation due), never a
    mechanism failure (2 = could not locate/parse _PRIORITY_ORDER).
    Exit 1 is a VALID state here: the driver drops a new CORRECTNESS
    file at round end, which makes rotation "due" until the next
    builder session runs the script — the enforced deadline remains
    test_no_query_staler_than_four_rounds (which tolerates the
    in-between rounds the 4-round horizon allows)."""
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "rotate_window.py"),
         "--check"],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode in (0, 1), proc.stdout + proc.stderr
    assert "could not locate" not in proc.stdout


def test_rotate_window_tuple_parse_ignores_comment_quotes():
    """round-12 (ADVICE r11): the current/target comparison parses the
    tuple with ast.literal_eval, so a hand-written comment containing
    a double-quoted lowercase word cannot corrupt it — and the header
    never claims more names ahead of the cut than the window holds."""
    import sys

    sys.path.insert(0, REPO)
    from scripts.rotate_window import _tuple_names, render

    region = (
        '_PRIORITY_ORDER = (\n'
        '    # note: "decoy" words in comments must not count\n'
        '    "q_a",\n'
        '    # another "trap" here\n'
        '    "q_b",\n'
        ')'
    )
    assert _tuple_names(region) == ["q_a", "q_b"]
    # header clamp: 3 one-name blocks against a window of 2 must say
    # 2 names fill the window, not 3
    order = [
        (1, "latest external row: round 1", ["q_x"]),
        (2, "latest external row: round 2", ["q_y"]),
        (3, "latest external row: round 3", ["q_z"]),
    ]
    rendered = render(order, next_round=4, window=2)
    assert "(2 names fill the window)" in rendered
    assert _tuple_names(rendered) == ["q_x", "q_y", "q_z"]
