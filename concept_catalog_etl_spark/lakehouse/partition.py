"""Table partition spec: a coarse time/value pruning axis ABOVE hash buckets.

A 100 TB corpus prunes on a date or source partition before anything else;
hash buckets alone force a time-window query to open every bucket's recent
delta files. This module adds an Iceberg-style partition transform over ONE
source column, giving the layout::

    data/commit-<uuid>/_part=<v>/_bucket=<b>/part-*.parquet

and exact partition-level file elimination — including merge-on-read delta
files, which column-stats pruning must conservatively keep (see
``table.read``'s soundness note).

**Why the source column must be a key component.** Partition pruning in an
LWW merge-on-read table is sound only if every row version of a key —
updates, and crucially DELETE tombstones — lands in the same partition.
CDC delete events carry only the key (the reference's Mongo ``_id``,
``/root/reference/files/load.py:21``; Debezium ``d`` envelopes have a null
``after``), so a payload-derived partition value would file tombstones under
the null partition and a window read could resurrect deleted rows. Deriving
the partition from a key component makes the value total (keys are non-null)
and immutable per key, so pruning can never hide a newer version or a
tombstone. Composite keys (``TableSchema.key_field_ids``) make this natural:
``(event_date, doc_id)`` partitioned by ``day(event_date)``, or
``(source, doc_id)`` partitioned by ``identity(source)``.

Transform values are STRINGS whose lexical order equals the source order
(fixed-width time formats), so partition range pruning is a plain string
compare against manifest entries — the same trick the manifest column stats
use (``table._stat_norm``).
"""

from __future__ import annotations

import datetime as _dt
import re as _re

from pyspark.sql import Column, functions as F

from .schema import TableSchema

# transform → strftime/date_format pattern (identical syntax for the subset
# used: yyyy/MM/dd/HH are position-for-position the same width every row)
_TIME_FORMATS = {
    "year": ("yyyy", "%Y"),
    "month": ("yyyy-MM", "%Y-%m"),
    "day": ("yyyy-MM-dd", "%Y-%m-%d"),
    "hour": ("yyyy-MM-dd-HH", "%Y-%m-%d-%H"),
}
TRANSFORMS = ("identity", *_TIME_FORMATS)

# truncate<W> (Iceberg's string-truncate transform, width baked into the
# name so the stored form stays one string): a fixed-width PREFIX of a
# string key component. Prefix truncation is monotone non-decreasing over
# the lexical order, so range pruning and the spec-evolution mixed-
# granularity argument (table.read) apply exactly as for time transforms.
_TRUNCATE_RE = _re.compile(r"^truncate([1-9]\d*)$")

# types a time transform accepts / identity accepts (identity is restricted
# to strings so the partition value's lexical order is the source order —
# an int identity would sort "10" < "9" and break range pruning; truncate
# is string-only for the same reason)
_TIME_TYPES = {"timestamp", "date"}
_IDENTITY_TYPES = {"string"}


def validate_spec(schema: TableSchema, spec: dict) -> dict:
    """Normalize a user spec ``{"column": name, "transform": t}`` to the
    stored form ``{"field_id": id, "transform": t}`` (rename-safe), enforcing
    the key-component contract documented in the module docstring."""
    t = spec.get("transform", "identity")
    if t not in TRANSFORMS and not _TRUNCATE_RE.match(t):
        raise ValueError(
            f"unknown partition transform {t!r}; one of {TRANSFORMS} "
            "or truncate<W> (W >= 1)"
        )
    if "column" in spec:
        fld = schema.field_by_name(spec["column"])
    else:
        fld = schema.field_by_id(int(spec["field_id"]))
    if fld.id not in schema.key_field_ids:
        raise ValueError(
            f"partition column {fld.name!r} is not a key component "
            f"(key: {schema.key_names}). Partitioning must derive from the "
            "key: delete events carry only the key, so a payload-derived "
            "partition would file tombstones under the null partition and "
            "window reads could resurrect deleted rows."
        )
    ok = (_IDENTITY_TYPES if t == "identity" or _TRUNCATE_RE.match(t)
          else _TIME_TYPES)
    if fld.type not in ok:
        raise ValueError(
            f"transform {t!r} needs a column of type {sorted(ok)}, "
            f"{fld.name!r} is {fld.type!r}"
        )
    return {"field_id": fld.id, "transform": t}


def part_expr(col: Column, transform: str) -> Column:
    """The write-time partition value (string; lexical order == source order)."""
    if transform == "identity":
        return col.cast("string")
    tm = _TRUNCATE_RE.match(transform)
    if tm:
        return F.substring(col.cast("string"), 1, int(tm.group(1)))
    return F.date_format(col, _TIME_FORMATS[transform][0])


def part_value(value, transform: str) -> str | None:
    """Driver-side twin of ``part_expr`` for pruning bounds and point
    lookups. Returns None when the value can't be interpreted (caller keeps
    the file — pruning stays conservative, never wrong)."""
    if value is None:
        return None
    if transform == "identity":
        return str(value)
    tm = _TRUNCATE_RE.match(transform)
    if tm:
        return str(value)[: int(tm.group(1))]
    if isinstance(value, str):
        try:
            value = _dt.datetime.fromisoformat(value)
        except ValueError:
            return None
    if isinstance(value, _dt.datetime):
        return value.strftime(_TIME_FORMATS[transform][1])
    if isinstance(value, _dt.date):
        # a date bound on an hour/day transform: midnight start of that day
        return _dt.datetime(value.year, value.month, value.day).strftime(
            _TIME_FORMATS[transform][1]
        )
    return None

