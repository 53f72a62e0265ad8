"""Reverse impl-hash lookup: which registry entries reach a function?

Usage: python scripts/who_reaches.py <substring> [substring ...]

For each registry entry, computes the transitive reachable set
(impl_hash._reachable) and prints the entries whose reachable-source
keys contain any of the given substrings (e.g. 'line_dedup',
'dataops.text'), annotated with the entry's newest driver signature
and staleness. Then prints the rotation budget as if every hit were
marked stale: the priority 0-3 count against the 50-row budget and
any mandatory-tail entry (newest signature three rounds old) pushed
outside the first 50 — the condition
tests/test_rotation.py::test_no_signature_older_than_two_rounds_in_budget
fails on.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clickhouse_etl_spark import impl_hash, queries  # noqa: E402

BUDGET = 50


def main() -> None:
    subs = sys.argv[1:]
    if not subs:
        print("usage: who_reaches.py <substring> ...")
        return
    reached = set()
    for name, qd in queries.QUERIES.items():
        try:
            reach = impl_hash._reachable(qd.fn)
        except Exception as e:
            print(f"{name}: reachable failed: {e}")
            continue
        hits = sorted(k for k in reach if any(s in k for s in subs))
        if hits:
            reached.add(name)
            sig = queries._newest_signature(name)
            stale = name in queries._STALE_SIGNED
            print(f"r{sig:<2d} stale={int(stale)} {name}: {hits}")

    signed = {n for n in reached if queries._newest_signature(n) > 0}
    stale = queries._STALE_SIGNED | signed
    order = queries.rotation_order(stale)
    front = sum(1 for n in order if queries._priority(n, stale) <= 3)
    tail = {
        n
        for n in order
        if 0 < queries._newest_signature(n) <= queries._LATEST_ROUND - 2
    }
    outside = sorted(tail - set(order[:BUDGET]))
    print(
        f"with {len(signed - queries._STALE_SIGNED)} new stale entries: "
        f"priority 0-3 holds {front} of {BUDGET} budget rows"
    )
    print(f"mandatory-tail entries outside the first {BUDGET}: {outside or 'none'}")


if __name__ == "__main__":
    main()
