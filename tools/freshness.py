"""Derive the driver verification window from CORRECTNESS_r*.json.

For each registry entry this finds the most recent round with a GREEN
official driver row (rows_match AND schema_match AND hash_match, err
null) and orders entries stalest-first.

Window policy (``plan_window``): the 50-slot window takes (1) entries
whose code/oracle changed since their last green row ("touched",
supplied by hand, not derivable from artifacts), then (2) the stalest
remaining entries by artifact-derived age.  Staleness ties (same round)
break by position inside that round's artifact file, which is the
registry order the driver verified them in, so the order is
deterministic and independent of the current registry order.

CLI:
    python tools/freshness.py [--through R]   # last-green table, stalest first

(``head -N`` keeps the N stalest; ``grep -v`` drops names.)

Library use (tests/test_freshness.py pins ``_WINDOW_HEAD`` with this):
    from tools.freshness import last_green, staleness_order, plan_window
"""

from __future__ import annotations

import glob
import json
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WINDOW_SIZE = 50


def correctness_rounds(
    repo: str = REPO, through: int | None = None
) -> dict[int, dict[str, dict]]:
    """{round: {entry: row}} for every committed CORRECTNESS_r*.json.

    ``through`` caps the rounds considered (inclusive) — a window planned
    at the START of round N must derive from artifacts r1..r(N-1), and
    must keep deriving from them after CORRECTNESS_rN.json lands, or the
    pin test would start failing the moment the round it planned runs.
    """
    out: dict[int, dict[str, dict]] = {}
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)\.json$", os.path.basename(path))
        if not m:
            continue
        rn = int(m.group(1))
        if through is not None and rn > through:
            continue
        try:
            with open(path) as f:
                out[rn] = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
    return out


def _is_green(row: object) -> bool:
    return (
        isinstance(row, dict)
        and bool(row.get("rows_match"))
        and bool(row.get("schema_match"))
        and bool(row.get("hash_match"))
        and not row.get("err")
    )


def last_green(repo: str = REPO, through: int | None = None) -> dict[str, int]:
    """Entry -> most recent round with a green official driver row."""
    out: dict[str, int] = {}
    rounds = correctness_rounds(repo, through)
    for rn in sorted(rounds):
        for name, row in rounds[rn].items():
            if _is_green(row):
                out[name] = rn
    return out


def staleness_order(repo: str = REPO, through: int | None = None) -> list[str]:
    """Every ever-green entry, stalest first.

    Key: (last green round asc, position within that round's artifact
    asc).  The artifact position is the driver's verification order that
    round — stable forever once the file is committed.
    """
    rounds = correctness_rounds(repo, through)
    lg = {}
    for rn in sorted(rounds):
        for i, (name, row) in enumerate(rounds[rn].items()):
            if _is_green(row):
                lg[name] = (rn, i)
    return sorted(lg, key=lg.__getitem__)


def plan_window(
    touched: list[str],
    size: int = WINDOW_SIZE,
    repo: str = REPO,
    through: int | None = None,
) -> list[str]:
    """The policy window: touched entries first (their official rows
    predate the code that now implements them), then the stalest
    remaining ever-green entries until ``size`` slots are filled.

    Overflow (more touched entries than slots): the window takes the
    ``size`` STALEST touched entries by the same artifact-derived order —
    deferring the touched entries whose official rows are FRESHEST is
    the least-risk deferral; the rest carry to the next touched list."""
    if len(set(touched)) != len(touched):
        raise ValueError("touched list has duplicates")
    if len(touched) > size:
        order = {n: i for i, n in enumerate(staleness_order(repo, through))}
        return sorted(touched, key=lambda n: order[n])[:size]
    fill = [n for n in staleness_order(repo, through) if n not in set(touched)]
    return list(touched) + fill[: size - len(touched)]


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--through", type=int, default=None, metavar="R",
                    help="consider artifacts up to round R only")
    args = ap.parse_args()

    lg = last_green(through=args.through)
    for name in staleness_order(through=args.through):
        print(f"r{lg[name]:<2d} {name}")
    # Ledger-closure summary: entries in the live registry with no green
    # row ever (should be empty from round 8 on).
    try:
        import sys

        sys.path.insert(0, REPO)
        from projetos_etl_spark.registry import all_queries

        missing = sorted(set(all_queries()) - set(lg))
        print(f"\n# {len(lg)} ever-green; never-green registry entries: {missing or 'none'}")
    except Exception as e:  # noqa: BLE001 — summary only, table already printed
        print(f"\n# registry import unavailable for closure check: {e}")


if __name__ == "__main__":
    main()
