#!/usr/bin/env python
"""Compute the rotation queue of the driver's correctness window.

The driver records only the first 50 queries() entries; the window
(`_WINDOW_PRIORITY` in __spark_entry__.py) pins which 50. Each round
the window advances to the front of the rotation queue: every
queries() name that is neither in the current window nor pinned-once
exempt, oldest latest driver row first. The queue is derived data: it
is computed here when asked for and never stored in source.

Usage:
  python scripts/rotate_window.py           # print the queue, one name a line
  python scripts/rotate_window.py --apply   # rewrite the window to queue[:50]

`--apply` refuses while any window name lacks a row in the newest
CORRECTNESS file: the driver has not yet recorded the outgoing window,
and rotating then would sort those 50 names straight back to the front
of the queue. Run it once at the start of a rotation round, then re-run
tests/test_round5_late_ops.py.
"""

from __future__ import annotations

import importlib.util
import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
ENTRY = REPO / "__spark_entry__.py"

# Pinned-once rows-only exemptions (reasons in the _WINDOW_PRIORITY note
# in __spark_entry__.py): slots are never re-burned on these.
EXEMPT = {
    "embedding_principal_component",
    "parquet_footer_stats",
    "approx_distinct_customers",
}

_WINDOW = re.compile(r"_WINDOW_PRIORITY = \(\n.*?\n\)", re.S)


def latest_rounds() -> dict[str, int]:
    """Latest driver round per query name over all CORRECTNESS files."""
    latest: dict[str, int] = {}
    for p in REPO.glob("CORRECTNESS_r*.json"):
        rnd = int(p.stem.split("_r")[1])
        for name in json.loads(p.read_text()):
            latest[name] = max(latest.get(name, 0), rnd)
    return latest


def build_queue(names, window, latest) -> tuple[str, ...]:
    """The one queue rule: every non-window, non-exempt name,
    never-driver-seen first, then ascending latest driver round, name
    as the tiebreak."""
    return tuple(sorted(
        (n for n in names if n not in window and n not in EXEMPT),
        key=lambda n: (latest.get(n, 0), n),
    ))


def _load_entry(path: Path):
    """Exec the entry file at `path` as a fresh module, so the queue is
    computed from the same file `apply` edits."""
    name = f"_rotate_entry_{abs(hash(str(path)))}"
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    return mod


def queue(latest: dict[str, int]) -> tuple[str, ...]:
    entry_mod = _load_entry(ENTRY)
    return build_queue(set(entry_mod.queries()),
                       set(entry_mod._WINDOW_PRIORITY), latest)


def apply() -> None:
    latest = latest_rounds()
    newest = max(latest.values(), default=0)
    window = _load_entry(ENTRY)._WINDOW_PRIORITY
    unrecorded = [n for n in window if latest.get(n) != newest]
    if unrecorded:
        raise SystemExit(
            f"refusing to rotate: {len(unrecorded)} window names lack a "
            f"row in the newest CORRECTNESS file (r{newest}), e.g. "
            f"{unrecorded[0]}; run --apply once the driver has recorded "
            f"the outgoing window")
    new_window = queue(latest)[:50]
    block = "\n".join(["_WINDOW_PRIORITY = ("]
                      + [f'    "{n}",' for n in new_window] + [")"])
    ENTRY.write_text(_WINDOW.sub(lambda _: block, ENTRY.read_text(),
                                 count=1))
    print(f"rotated: window <- queue[:50] ({len(new_window)} names)")


if __name__ == "__main__":
    if "--apply" in sys.argv[1:]:
        apply()
    else:
        print("\n".join(queue(latest_rounds())))
