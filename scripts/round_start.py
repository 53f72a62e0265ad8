"""Print the mechanical round-start rotation checks for queries.py.

Run ONCE at the start of round N+1, from (a checkout of) the commit the
round-N driver CORRECTNESS artifact certified:

    python scripts/round_start.py CORRECTNESS_r06.json

It prints:

  1. how many of the artifact's entries count as signed, and any error
     rows — a row whose newest driver check FAILED does not count as
     signed (``queries.signed_entries`` applies the same rule when it
     loads the artifact),
  2. the entries whose implementing-source hash already differs from
     ``impl_hashes_signed.json`` (the seed for the fresh
     ``_STALE_SIGNED`` — normally empty when run at the signed commit),
  3. the remaining hand steps: extend the round range of
     ``queries._CHECKED_ROUNDS`` and the ``_priority`` ladder.

It does NOT edit queries.py itself: the ladder extension changes
control flow and deserves eyes.  Afterwards run
``python scripts/snapshot_impl_hashes.py`` at the SAME signed commit,
then ``pytest tests/test_rotation.py``.
"""

import json
import sys
import textwrap
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from clickhouse_etl_spark import impl_hash  # noqa: E402
from clickhouse_etl_spark.queries import signed_entries  # noqa: E402


def _literal(name: str, keys) -> str:
    body = ", ".join(f'"{k}"' for k in sorted(keys))
    wrapped = textwrap.fill(
        body, width=74, initial_indent="    ", subsequent_indent="    "
    )
    return f"{name} = frozenset({{\n{wrapped},\n}})"


def main(argv):
    if len(argv) != 2:
        print(__doc__)
        return 2
    art_path = Path(argv[1])

    # 1. signed set, by the same rule the registry loads it with.
    ok = signed_entries(art_path)
    bad = sorted(set(json.loads(art_path.read_text())) - ok)
    print(f"# {art_path.name}: {len(ok)} signed entries")
    if bad:
        print(f"# NOT signed (driver row failed — keep these at priority 1): {bad}")

    # 2. mechanical stale seed vs the current snapshot.
    changed = sorted(impl_hash.changed_entries())
    print("\n# --- _STALE_SIGNED seed (should be empty at the signed commit) ---")
    if changed:
        print(_literal("_STALE_SIGNED", changed))
    else:
        print("_STALE_SIGNED = frozenset()")

    # 3. ladder reminder.
    print(
        "\n# --- extend the round range of queries._CHECKED_ROUNDS to load\n"
        "# this artifact; extend _priority so the oldest-signature tier is\n"
        "# the oldest REMAINING round; keep priorities 0-3 within the ~50\n"
        "# driver budget (tests/test_rotation.py enforces). Then run\n"
        "# scripts/snapshot_impl_hashes.py and the rotation tests."
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
