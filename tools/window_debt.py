"""Driver-window ledger debt: which catalog queries have never held a
green row in any CORRECTNESS_r*.json, and which seats they could take.

The correctness driver hash-checks only the FIRST 50 entries of
``catalog.queries()`` (see the rotation policy above ``_DRIVER_PRIORITY``
in queries.py).  This prints, from the committed ledger:

- per-round green counts (sanity),
- the never-green list, split into currently-seated (will close next
  driver run) vs tail (candidates for the next rotation),
- seated entries by consecutive-green streak (long-green seats are the
  rotation's eviction candidates: the strongest-contract rule).

Assertion mode (the stays-green canary, round-12 verdict ask #2)::

    python tools/window_debt.py --assert-no-regression r11 r12

exits 1 if ANY query green in the first round's ledger re-reds in the
second — i.e. it appears in BOTH rounds' CORRECTNESS files and went
green → not-green.  A query absent from the later file is NOT a
regression (the window is 50 slots; rotation moves queries to the tail
where tools/check_oracle.py still covers them — the stays-green rule).  Arguments are
round tags (``r11``/``11``) or explicit paths to CORRECTNESS json files
(the latter is what the synthetic-fixture test uses).

Usage: python tools/window_debt.py [--assert-no-regression OLD NEW]
"""

from __future__ import annotations

import glob
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from feature_store_healthcare_spark import queries as catalog  # noqa: E402


def _is_green(r: object) -> bool:
    return (
        isinstance(r, dict)
        and bool(r.get("rows_match"))
        and bool(r.get("schema_match"))
        and bool(r.get("hash_match"))
    )


def _load_round(tag: str) -> dict[str, object]:
    """Resolve a round tag ('r12' / '12') or an explicit path to its
    CORRECTNESS dict."""
    if os.path.exists(tag):
        path = tag
    else:
        n = tag.lstrip("rR")
        path = os.path.join(REPO, f"CORRECTNESS_r{int(n):02d}.json")
    with open(path) as fh:
        return json.load(fh)


def assert_no_regression(old_tag: str, new_tag: str) -> int:
    """Exit-code contract: 0 = no green→red transitions, 1 = regression
    (each one printed).  Queries only in one file are reported as info
    (rotation churn) but never fail the check."""
    old, new = _load_round(old_tag), _load_round(new_tag)
    regressed = []
    for name, prev in old.items():
        if not _is_green(prev):
            continue
        if name not in new:
            continue  # rotated out — the local gate still covers it
        if not _is_green(new[name]):
            regressed.append(name)
    rotated_out = [n for n in old if _is_green(old[n]) and n not in new]
    if rotated_out:
        print(f"info: {len(rotated_out)} green rows rotated out of the "
              f"window (not regressions): {', '.join(sorted(rotated_out))}")
    if regressed:
        for name in regressed:
            print(f"REGRESSION {name}: green in {old_tag}, red in {new_tag} "
                  f"→ {json.dumps(new[name])}")
        print(f"\n{len(regressed)} green→red regression(s)")
        return 1
    kept = sum(1 for n in old if _is_green(old[n]) and n in new)
    print(f"ok: all {kept} carried-over green rows stayed green "
          f"({old_tag} → {new_tag})")
    return 0


def main() -> int:
    if len(sys.argv) >= 2 and sys.argv[1] == "--assert-no-regression":
        if len(sys.argv) != 4:
            print("usage: window_debt.py --assert-no-regression OLD NEW")
            return 2
        return assert_no_regression(sys.argv[2], sys.argv[3])
    green_rounds: dict[str, list[str]] = {}
    for f in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = f.split("_r")[1].split(".")[0]
        with open(f) as fh:
            for q, r in json.load(fh).items():
                ok = (
                    isinstance(r, dict)
                    and r.get("rows_match")
                    and r.get("schema_match")
                    and r.get("hash_match")
                )
                if ok:
                    green_rounds.setdefault(q, []).append(rnd)
    names = list(catalog.queries())
    window, tail = names[:50], names[50:]
    never = [n for n in names if n not in green_rounds]
    print(f"catalog {len(names)} | ever-green {len(green_rounds)} | "
          f"never-green {len(never)}")
    seated_never = [n for n in window if n in never]
    print(f"\nseated, never-green yet ({len(seated_never)} — close next "
          f"driver run):")
    for n in seated_never:
        print(f"  {n}")
    tail_never = [n for n in tail if n in never]
    print(f"\ntail, never-green ({len(tail_never)} — next rotation's "
          f"candidates):")
    for n in tail_never:
        print(f"  {n}")
    print("\nseated by green-round count (eviction candidates first):")
    for n in sorted(window, key=lambda n: -len(green_rounds.get(n, []))):
        print(f"  {len(green_rounds.get(n, [])):2d}  {n}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
