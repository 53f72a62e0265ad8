"""Skew mitigation: salted aggregation and salted joins.

AQE's skew-join handling (enabled in session.py) covers sort-merge
joins at runtime; these helpers cover the cases AQE cannot fix:

- ``salted_agg``: a hot grouping key funnels into one reducer; salting
  splits each key into N sub-groups (partial agg), then a second tiny
  aggregation merges the partials. Classic two-phase combine — total
  shuffle volume is unchanged but the widest reducer shrinks N-fold.
- ``replicate_join_right``: for a shuffle join with one hot left key,
  replicate each right row N times with salt ids and salt the left
  randomly-but-deterministically (hash of a row id), so the hot key
  spreads over N partitions.

Every salt here is deterministic (hash of a caller-named column), never
``rand()`` — results must be reproducible for the oracle and for
replayed streaming epochs.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _salt(col: Column, n: int) -> Column:
    # deterministic salt from a stable column (no rand(): replay-safe)
    return F.pmod(F.xxhash64(col), F.lit(n))


def salted_agg(
    df: DataFrame,
    group_cols: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    salt_col: str,
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation for skewed group keys.

    ``aggs`` maps output name -> (input column, fn) with fn in
    {sum, count, min, max}. Phase 1 aggregates (group, salt); phase 2
    merges partials per group (count partials merge with sum).
    """
    merge_fn = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    phase1_fn = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}

    salted = df.withColumn("_salt", _salt(F.col(salt_col), n_salts))
    p1 = salted.groupBy(*group_cols, "_salt").agg(
        *[phase1_fn[fn](c).alias(out) for out, (c, fn) in aggs.items()]
    )
    return p1.groupBy(*group_cols).agg(
        *[merge_fn[fn](out).alias(out) for out, (c, fn) in aggs.items()]
    )


def replicate_join_right(
    left: DataFrame,
    right: DataFrame,
    key: str,
    right_key: str | None = None,
    salt_source: str | None = None,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof shuffle equi-join: salt the left deterministically,
    replicate the right across all salts, join on (key, salt).

    Right-side cost: n_salts x |right| rows through the shuffle — use
    only when the right is small-ish but too big to broadcast and the
    left has hot keys. Output columns = left + right (minus the
    duplicate key).
    """
    right_key = right_key or key
    salt_source = salt_source or left.columns[0]
    lhs = left.withColumn("_salt", _salt(F.col(salt_source), n_salts))
    rhs = right.crossJoin(
        F.broadcast(
            left.sparkSession.range(n_salts).select(F.col("id").cast("int").alias("_salt"))
        )
    )
    cond = (lhs[key] == rhs[right_key]) & (lhs["_salt"] == rhs["_salt"])
    joined = lhs.join(rhs, cond, how)
    keep = [lhs[c] for c in left.columns] + [
        rhs[c] for c in right.columns if c != right_key
    ]
    return joined.select(*keep)
