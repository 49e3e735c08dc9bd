#!/usr/bin/env python
"""Union + freshness report over the driver's CORRECTNESS_r*.json files.

Replays the judge's union computation locally so the next round's
window selection is mechanical: for every query ever recorded, the
LATEST round it appeared in and whether that latest row is green
(rows+schema+hash for oracled rows; rows-only rows are flagged as
such). Output is oldest-latest-round first — the front of the list IS
the natural next freshness window — plus any registered query that has
never received a driver row.

Green means rows_match and schema_match and (hash_match or the driver
recorded a rows-only check, i.e. hash_match is null) and err is null.

Usage: python tools/correctness_union.py [--json]
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_rows() -> dict[str, tuple[int, dict]]:
    latest: dict[str, tuple[int, dict]] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        mt = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(mt.group(1))
        for name, row in json.load(open(path)).items():
            if name not in latest or rnd >= latest[name][0]:
                latest[name] = (rnd, row)
    return latest


def is_green(row: dict) -> bool:
    return bool(
        row.get("rows_match")
        and row.get("schema_match")
        and row.get("hash_match") in (True, None)
        and row.get("err") is None
    )


def main() -> None:
    latest = load_rows()
    sys.path.insert(0, REPO)
    import __spark_entry__ as m  # noqa: E402

    registered = list(m.queries())
    never = [n for n in registered if n not in latest]
    stale_order = sorted(
        (n for n in registered if n in latest), key=lambda n: latest[n][0]
    )
    rows_only = [
        n for n in stale_order if latest[n][1].get("hash_match") is None
    ]
    red = [n for n in stale_order if not is_green(latest[n][1])]

    if "--json" in sys.argv:
        print(
            json.dumps(
                {
                    "registered": len(registered),
                    "with_rows": len(stale_order),
                    "never_recorded": never,
                    "red_latest": red,
                    "rows_only_latest": rows_only,
                    "latest_round": {n: latest[n][0] for n in stale_order},
                }
            )
        )
        return

    by_round: dict[int, list[str]] = {}
    for n in stale_order:
        by_round.setdefault(latest[n][0], []).append(n)
    print(f"registered {len(registered)}; union rows {len(stale_order)}; "
          f"never recorded {len(never)}; red latest {len(red)}; "
          f"rows-only latest {len(rows_only)}")
    for rnd in sorted(by_round):
        names = by_round[rnd]
        print(f"\nr{rnd:02d}-latest ({len(names)}):")
        for n in names:
            g = "green" if is_green(latest[n][1]) else "RED"
            print(f"  {n} [{g}]")
    if never:
        print(f"\nnever recorded ({len(never)}): {', '.join(never)}")
    if red:
        print("\nRED latest rows:", ", ".join(red))
        raise SystemExit(1)


if __name__ == "__main__":
    main()
