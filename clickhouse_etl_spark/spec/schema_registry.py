"""Schema evolution support: Confluent wire envelope + backward compat.

Reference behavior (glassflow-api/internal/schema_v2/):

- messages may carry the Confluent Schema Registry wire envelope
  ``[0x00][4-byte big-endian schema id][payload]`` (schema.go:180-190);
- a new schema version is accepted only if **backward compatible**:
  every field of the previous version still exists with the same
  normalized type (validate.go:35-62); incompatible versions stop the
  pipeline;
- a stream may interleave multiple live schema versions. Two ways to
  read such a stream exist here: ``widest_schema`` collapses the
  versions to the widest compatible schema at compile time (backward
  compatibility guarantees a superset — SURVEY.md §1.3), and
  ``operators.validate.validate_json_versioned`` validates each message
  against its own version (per-row dispatch). Neither is wired into the
  runner yet, which validates against one version (ROADMAP item 10).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .model import Field
from .types import normalize_source_type

#: Confluent wire format magic byte
MAGIC = 0x00


def strip_sr_envelope(value: Column) -> tuple[Column, Column]:
    """Return (payload, schema_id) columns from a binary Kafka value.

    Values starting with the 0x00 magic byte have the 5-byte envelope
    removed and the 4-byte big-endian schema id extracted; bare values
    pass through with a NULL schema id. Pure Catalyst byte slicing —
    no UDFs.
    """
    has_envelope = (F.octet_length(value) >= 5) & (F.hex(value.substr(1, 1)) == "00")
    # 4-byte big-endian id: hex the slice, parse base-16
    schema_id = F.conv(F.hex(value.substr(2, 4)), 16, 10).cast("bigint")
    payload = F.when(has_envelope, value.substr(F.lit(6), F.octet_length(value))).otherwise(value)
    sid = F.when(has_envelope, schema_id).otherwise(F.lit(None).cast("bigint"))
    return payload, sid


def check_backward_compatible(
    prev: list[Field] | tuple[Field, ...], new: list[Field] | tuple[Field, ...]
) -> tuple[bool, str]:
    """Every previous field must still exist with the same normalized
    type (validate.go:35-62). Returns (ok, reason)."""
    new_by_name = {f.name: normalize_source_type(f.type) for f in new}
    for f in prev:
        if f.name not in new_by_name:
            return False, f"field {f.name!r} removed"
        if new_by_name[f.name] != normalize_source_type(f.type):
            return (
                False,
                f"field {f.name!r} changed type "
                f"{normalize_source_type(f.type)} -> {new_by_name[f.name]}",
            )
    return True, "ok"


def widest_schema(versions: list[list[Field]]) -> tuple[Field, ...]:
    """Collapse an ordered chain of backward-compatible versions to the
    widest (last) schema, asserting the invariant along the way."""
    if not versions:
        return ()
    for prev, new in zip(versions, versions[1:]):
        ok, reason = check_backward_compatible(prev, new)
        if not ok:
            raise ValueError(f"incompatible schema evolution: {reason}")
    return tuple(versions[-1])
