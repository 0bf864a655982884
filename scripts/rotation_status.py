#!/usr/bin/env python
"""Regenerate the README "Driver-gate rotation status" section from
the CORRECTNESS_r*.json artifacts + the live registry order, so the
rotation state (which query is driver-proven in which round, which
are still check_oracle-only) is self-documenting instead of living in
ROUNDLOG prose.

Usage: python scripts/rotation_status.py        # rewrites README.md
       python scripts/rotation_status.py --print  # stdout only
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BEGIN = "<!-- rotation-status:begin -->"
END = "<!-- rotation-status:end -->"


def build_section() -> str:
    from datasplash_spark import queries as Q

    # the parser that derives the registry order, so this report can
    # never disagree with it
    rounds, latest_green = Q._latest_driver_rows()
    latest_round = rounds[-1] if rounds else 0

    names = list(Q.queries())
    rows_only = Q.rows_only()
    window = set(names[:50])

    buckets: dict[str, list[str]] = {}
    for name in names:
        if name in rows_only:
            proven = latest_green.get(name)
            tag = (
                f"rows-only by design (r{proven} driver row)"
                if proven
                else "rows-only by design (no driver row yet)"
            )
        elif name not in latest_green:
            tag = "check_oracle-only (never driver-gated)"
        else:
            tag = f"driver-green r{latest_green[name]}"
        buckets.setdefault(tag, []).append(name)

    lines = [
        BEGIN,
        "",
        "## Driver-gate rotation status",
        "",
        "The external driver checks the FIRST 50 registry entries per",
        "round; the registry rotates so every query earns a driver-green",
        "`CORRECTNESS_r{N}.json` row over consecutive rounds. Generated",
        f"by `scripts/rotation_status.py` from rounds {rounds} — regenerate",
        "after each round's artifacts land.",
        "",
        "| Status | Rounds since driver row | Queries |",
        "| --- | --- | --- |",
    ]
    for tag in sorted(buckets, reverse=True):
        qnames = buckets[tag]
        m = re.search(r"r(\d+)(?: driver row)?\)?$", tag)
        stale = (
            str(latest_round - int(m.group(1)))
            if m
            else ("n/a" if "never" in tag or "no driver" in tag else "—")
        )
        shown = ", ".join(
            f"`{n}`" + (" *(in current window)*" if n in qnames and n in window and "never" in tag else "")
            for n in qnames
        )
        lines.append(f"| {tag} ({len(qnames)}) | {stale} | {shown} |")
    # staleness histogram: rounds-old at the NEXT driver run, by
    # window membership
    hist: dict[tuple[str, str], int] = {}
    for n in names:
        last = latest_green.get(n)
        s = "never" if last is None else str(latest_round + 1 - last)
        loc = "in window" if n in window else "outside"
        hist[(s, loc)] = hist.get((s, loc), 0) + 1
    lines += [
        "",
        "Staleness histogram (rounds since newest driver row, measured",
        f"at the next driver run r{latest_round + 1}; `queries.py` sorts",
        "the registry stalest-first, so nothing outside the window is",
        "staler than anything inside, and the registry-size cap keeps",
        f"every query under the staleness backstop of {Q._MAX_STALENESS}):",
        "",
        "| Staleness | In window | Outside |",
        "| --- | --- | --- |",
    ]
    for s in sorted(
        {k[0] for k in hist},
        key=lambda v: (v != "never", -int(v) if v != "never" else 0),
    ):
        lines.append(
            f"| {s} | {hist.get((s, 'in window'), 0)} "
            f"| {hist.get((s, 'outside'), 0)} |"
        )
    in_window_unproven = [
        n for n in names[:50] if n not in latest_green and n not in rows_only
    ]
    lines += [
        "",
        f"Current window (positions 1–50) contains every query not yet "
        f"driver-proven on current code; {len(in_window_unproven)} of them "
        f"have never had a driver row and will earn one in round "
        f"{latest_round + 1}: "
        + ", ".join(f"`{n}`" for n in in_window_unproven)
        + ".",
        "",
        END,
    ]
    return "\n".join(lines)


def main() -> int:
    section = build_section()
    if "--print" in sys.argv:
        print(section)
        return 0
    readme_path = os.path.join(REPO, "README.md")
    readme = open(readme_path).read()
    if BEGIN in readme:
        readme = re.sub(
            re.escape(BEGIN) + r".*?" + re.escape(END),
            lambda _: section,
            readme,
            flags=re.S,
        )
    else:
        readme = readme.rstrip() + "\n\n" + section + "\n"
    open(readme_path, "w").write(readme)
    print("README.md rotation-status section updated")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
