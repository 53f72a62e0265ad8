"""Mechanical staleness enforcement for the registry rotation (VERDICT r5 #1/#3).

The driver's correctness budget (~50 entries/round) is spent by
registration order; ``queries._priority`` orders entries so that
changed-since-signature entries are re-signed before anything else.
These tests make the bookkeeping mechanical instead of hand-maintained:

- any registry entry whose transitive implementing source differs from
  the signed snapshot MUST be in ``_STALE_SIGNED`` (or never checked);
- the signed sets are loaded from the committed driver artifacts, and
  loading them leaves the registry rotation exactly as it was pinned;
- the rotation front of the registry must contain the oldest-signature
  tail, so no entry's newest signature falls more than two rounds back.
"""

import hashlib
import json
from collections import Counter
from pathlib import Path

import pytest

from clickhouse_etl_spark import queries
from clickhouse_etl_spark.impl_hash import (
    SNAPSHOT_PATH,
    changed_entries,
    load_snapshot,
    registry_hashes,
)

REPO = Path(__file__).resolve().parents[1]


def test_snapshot_exists_and_covers_registry():
    snap = load_snapshot()
    assert snap, f"missing {SNAPSHOT_PATH}; run scripts/snapshot_impl_hashes.py"
    # every snapshotted name should still exist (renames must re-snapshot)
    missing = set(snap) - set(queries.QUERIES)
    assert not missing, f"snapshot references deleted entries: {sorted(missing)}"


def test_changed_entries_are_marked_stale():
    """Editing an implementing function without adding the entry to
    _STALE_SIGNED is the exact failure mode the judge flagged — catch it
    in the fast suite, not at judging time."""
    unmarked = [
        n
        for n in changed_entries()
        if queries._newest_signature(n) > 0 and n not in queries._STALE_SIGNED
    ]
    assert not unmarked, (
        "implementing source changed since the signed snapshot but entry is "
        f"not in _STALE_SIGNED: {unmarked}"
    )


def test_stale_set_entries_exist():
    unknown = queries._STALE_SIGNED - set(queries.QUERIES)
    assert not unknown, f"_STALE_SIGNED names unknown entries: {sorted(unknown)}"


@pytest.mark.parametrize("round_no", [3, 4, 5, 6, 7, 8, 9, 10, 11])
def test_checked_sets_match_driver_artifacts(round_no):
    """Every row of the r3..r11 artifacts passed, so each loaded signed
    set is the artifact's full key set."""
    artifact = REPO / f"CORRECTNESS_r{round_no:02d}.json"
    driver_keys = set(json.loads(artifact.read_text()))
    loaded = dict(queries._CHECKED_ROUNDS)[round_no]
    assert set(loaded) == driver_keys, (
        f"round {round_no} signed set drifted from {artifact.name}: "
        f"missing={sorted(driver_keys - set(loaded))} "
        f"extra={sorted(set(loaded) - driver_keys)}"
    )


def test_signed_entries_rule(tmp_path):
    """A missing artifact raises instead of reading as an empty set; a
    failed row is not signed; a rows-only row is."""
    with pytest.raises(FileNotFoundError):
        queries.signed_entries(tmp_path / "CORRECTNESS_r99.json")

    ok = {"rows_match": True, "schema_match": True, "hash_match": True,
          "spark_rows": 5, "oracle_rows": 5, "err": None}
    art = tmp_path / "CORRECTNESS_r98.json"
    art.write_text(json.dumps({
        "passed": ok,
        "hash_mismatch": {**ok, "hash_match": False},
        "crashed": {"rows_match": None, "schema_match": None,
                    "hash_match": None, "spark_rows": None,
                    "oracle_rows": None, "err": "Py4JJavaError"},
        "rows_only": {"rows_match": None, "schema_match": None,
                      "hash_match": None, "spark_rows": 50,
                      "oracle_rows": None, "err": "no_oracle"},
        "rows_only_crashed": {"rows_match": None, "schema_match": None,
                              "hash_match": None, "spark_rows": None,
                              "oracle_rows": None, "err": "no_oracle"},
    }))
    assert queries.signed_entries(art) == {"passed", "rows_only"}


def test_loaded_rotation_is_pinned():
    """Registry order and every entry's newest signature, pinned so that
    a change in how the signed sets load cannot silently reorder the
    rotation. Re-pin only when a round start deliberately changes it."""
    assert queries._LATEST_ROUND == 11
    rows = [[n, queries._newest_signature(n)] for n in queries.QUERIES]
    assert len(rows) == 123
    assert Counter(rnd for _, rnd in rows) == {9: 33, 10: 40, 11: 50}
    digest = hashlib.sha256(json.dumps(rows).encode()).hexdigest()
    assert digest == (
        "8a9cde72833c35b098f23a373ed0686f4dbeff93f2c7fb83e669ffbdf35931d0"
    )


def test_no_signature_older_than_two_rounds_in_budget():
    """The driver checks roughly the first 50 registry entries. Every
    entry whose newest signature would be three rounds old by the end of
    THIS round must sit inside that window so it gets re-signed now —
    the freshness invariant the judge audits (no signature older than
    two rounds after each round's re-sign)."""
    order = list(queries.QUERIES)
    budget_front = set(order[:50])
    mandatory_tail = {
        n
        for n in order
        if 0 < queries._newest_signature(n) <= queries._LATEST_ROUND - 2
    }
    outside = sorted(mandatory_tail - budget_front)
    assert not outside, (
        f"mandatory-tail entries outside the ~50-entry budget: {outside}"
    )


def test_registry_hashes_are_stable_within_process():
    h1 = registry_hashes()
    h2 = registry_hashes()
    assert h1 == h2


@pytest.mark.parametrize(
    "entry,deps",
    [
        ("emb_pq_index_ann_topk", {"sample_centroids", "sample_codebooks"}),
        ("emb_pq_index_ann_topk", {"pq_index_build", "pq_index_query"}),
        ("docs_curation_v4", {"normalize_text", "percentile_threshold_gate"}),
    ],
)
def test_impl_hash_reaches_parenthesized_import_deps(entry, deps):
    """ADVICE r6 (high): the import walker must resolve parenthesized
    multi-line `from .x import (a, b)` statements — the r6 regex captured
    only '(' and silently dropped every dep behind such imports, so edits
    to those functions never flagged the entry stale."""
    from clickhouse_etl_spark.impl_hash import _reachable

    fn = queries.QUERIES[entry].fn
    names = {k.rsplit(".", 1)[-1] for k in _reachable(fn)}
    missing = deps - names
    assert not missing, f"{entry} misses transitive deps: {sorted(missing)}"
