"""Engine exceptions (parity with reference error surface).

Reference: vechord/errors.py — the reference raises psycopg
``UniqueViolation`` on duplicate unique-index inserts and ValueError on
schema misuse; we mirror the semantics with engine-level exceptions.
"""


class VechordError(Exception):
    """Base class for engine errors."""


class SchemaError(VechordError):
    """Invalid table/column declaration."""


class UniqueViolation(VechordError):
    """An append would duplicate a value in a UNIQUE-indexed column.

    Reference: vechord/client.py:146-156 (unique index DDL) and
    tests/test_table.py:142-151 (duplicate insert raises).
    """


class TableNotFound(VechordError):
    """Operation against a table that was never created in this namespace."""


class DimensionMismatch(VechordError):
    """A vector value's length does not match the declared Vector[dim].

    Reference: vechord/spec.py:86-132 (shape validation on ingest).
    """


class MaintenanceBusy(VechordError):
    """Another maintenance operation (extend_* / compact_index) holds
    the index's maintenance lock.

    Index maintenance is check-then-append: two concurrent extends can
    both compute the same not-yet-indexed delta and double-append it,
    so each index layout takes an exclusive driver-side flock for the
    duration. Contenders fail fast with this error instead of
    deadlocking; compact()'s bring-current pre-step treats it as
    "someone else is maintaining this index" and safely skips (the
    next extend re-adopts coverage via the anti-join).
    """
