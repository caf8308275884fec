"""Time-slice semantics: the reference's window spec as pure functions + Spark columns.

Reference semantics (cited into /root/reference):
- TimeConfiguration (two tumbling-window flavors):
  core-backup/src/main/scala/io/aiven/guardian/kafka/backup/configs/TimeConfiguration.scala:7-23
  * PeriodFromFirst(duration): windows anchored at the FIRST record's event time;
    not resumable (new anchor per run).
  * ChronoUnitSlice(unit): calendar-aligned windows via truncatedTo; resumable.
- Window index = MICROS.between(sliceStart, recordTime) / period.toMicros:
  core-backup/.../BackupClientInterface.scala:551-563; a boundary fires when the
  index strictly increases (:543-549).
- Object key = ISO_OFFSET_DATE_TIME(slice_start) + ".json"[".gz"]:
  BackupClientInterface.scala:517-532; parsed back for restore ordering by
  core/src/main/scala/io/aiven/guardian/kafka/Utils.scala:8-26 (recursive
  extension stripping); compression re-derived from the ".gz" suffix
  (core/.../models/BackupObjectMetadata.scala:5-10).

Spark mapping (SURVEY.md §1.6): ChronoUnitSlice ≡ ``date_trunc(unit, ts)``;
PeriodFromFirst ≡ integer window index off a run-scoped min-timestamp anchor.
Slice boundaries are implicit in ``partitionBy(slice)`` — no per-record boundary
detection operator is needed (the reference's sliding(2) T3 operator is an
artifact of its byte-streaming model).
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

MICROS_PER_SECOND = 1_000_000

#: ChronoUnit -> seconds, for the units Guardian's config accepts in practice
#: (reference.conf default HOURS; tests use MINUTES/HOURS).
_CHRONO_UNIT_SECONDS = {
    "SECONDS": 1,
    "MINUTES": 60,
    "HOURS": 3600,
    "DAYS": 86400,
}

#: Spark date_trunc format names per ChronoUnit.
_CHRONO_UNIT_TRUNC = {
    "SECONDS": "second",
    "MINUTES": "minute",
    "HOURS": "hour",
    "DAYS": "day",
}


@dataclass(frozen=True)
class PeriodFromFirst:
    """Tumbling windows of ``duration`` anchored at the first record's event time
    (TimeConfiguration.scala:9-14). A new run gets a new anchor — conformant with
    the reference's non-resumable semantics."""

    duration: _dt.timedelta

    @property
    def period_micros(self) -> int:
        return int(self.duration.total_seconds() * MICROS_PER_SECOND)


@dataclass(frozen=True)
class ChronoUnitSlice:
    """Calendar-aligned tumbling windows, ``truncatedTo(chrono_unit)``
    (TimeConfiguration.scala:16-23)."""

    chrono_unit: str  # "SECONDS" | "MINUTES" | "HOURS" | "DAYS"

    def __post_init__(self) -> None:
        if self.chrono_unit not in _CHRONO_UNIT_SECONDS:
            raise ValueError(f"unsupported chrono unit: {self.chrono_unit}")

    @property
    def period_micros(self) -> int:
        return _CHRONO_UNIT_SECONDS[self.chrono_unit] * MICROS_PER_SECOND

    @property
    def trunc_format(self) -> str:
        return _CHRONO_UNIT_TRUNC[self.chrono_unit]


TimeConfiguration = PeriodFromFirst | ChronoUnitSlice


# ---------------------------------------------------------------------------
# Pure slice math (property-tested against the reference's laws)
# ---------------------------------------------------------------------------

def slice_index(slice_start_us: int, record_time_us: int, period_us: int) -> int:
    """Window index of a record given the stream's slice anchor.

    Mirrors ``calculateNumberOfPeriodsFromTimestamp``
    (BackupClientInterface.scala:551-563): MICROS.between(start, t) / period,
    with Java integer (truncating) division.
    """
    delta = record_time_us - slice_start_us
    q = abs(delta) // period_us
    return q if delta >= 0 else -q


def is_at_boundary(prev_index: int, cur_index: int) -> bool:
    """Boundary fires when the window index strictly increases
    (BackupClientInterface.scala:543-549)."""
    return cur_index > prev_index


def anchor_for(config: TimeConfiguration, first_ts_us: int) -> int:
    """Slice-start anchor in epoch micros for a stream whose first record is at
    ``first_ts_us`` (BackupClientInterface.scala:517-532: raw first timestamp for
    PeriodFromFirst, truncatedTo for ChronoUnitSlice)."""
    if isinstance(config, PeriodFromFirst):
        return first_ts_us
    unit_us = _CHRONO_UNIT_SECONDS[config.chrono_unit] * MICROS_PER_SECOND
    return (first_ts_us // unit_us) * unit_us


def _format_iso_offset(dt: _dt.datetime) -> str:
    """java.time ISO_OFFSET_DATE_TIME formatting of a UTC instant: seconds and
    fraction omitted when zero, UTC offset rendered as ``Z`` — so round-trips
    through ``key_to_datetime`` (Utils.scala:19-26 parses with the same
    formatter)."""
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=_dt.timezone.utc)
    dt = dt.astimezone(_dt.timezone.utc)
    base = f"{dt.year:04d}-{dt.month:02d}-{dt.day:02d}T{dt.hour:02d}:{dt.minute:02d}"
    if dt.second or dt.microsecond:
        base += f":{dt.second:02d}"
    if dt.microsecond:
        frac = f"{dt.microsecond:06d}".rstrip("0")
        # java.time prints fractions in 3-digit groups (millis, then micros)
        width = 3 if len(frac) <= 3 else 6
        base += "." + f"{dt.microsecond:06d}"[:width]
    return base + "Z"


def calculate_key(slice_start: _dt.datetime, compression: str | None = None) -> str:
    """Backup object key for a time slice (BackupClientInterface.scala:517-532):
    ISO_OFFSET_DATE_TIME(slice_start) + ".json" (+ ".gz" iff gzip)."""
    suffix = ".json"
    if compression is not None:
        if compression.lower() != "gzip":
            raise ValueError(f"unsupported compression: {compression}")  # only Gzip exists
        suffix += ".gz"
    return _format_iso_offset(slice_start) + suffix


def key_to_datetime(key: str) -> _dt.datetime:
    """Parse a backup object key back to its slice-start time
    (core/.../Utils.scala:8-26 keyToOffsetDateTime): attempt a parse of the full
    stem, and strip the last ``.``-suffix and retry on failure. The reference's
    keys always carry a ``.json`` extension, but engine-native slice *directory*
    names do not — parsing the full stem first means ``2024-01-01T00:00:00Z``
    (extension-less) and ``...:45.123Z`` (fractional seconds, no extension) both
    parse with their offset intact, while ``.json``/``.gz`` extensions are still
    consumed one at a time. A leading ``slice=`` (partition-directory keys) is
    dropped first."""
    stem = key.rsplit("/", 1)[-1].removeprefix("slice=")
    while stem:
        try:
            # datetime.fromisoformat handles "Z" and omitted seconds (py>=3.11)
            return _dt.datetime.fromisoformat(stem)
        except ValueError:
            pass
        dot = stem.rfind(".")
        if dot < 0:
            break
        stem = stem[:dot]
    raise ValueError(f"not a slice key: {key!r}")


def slice_sort_key(key: str) -> tuple[_dt.datetime, str]:
    """Archive order: slice time, ties broken by name (a slice can hold
    several objects, e.g. the commit layer's ``.b<batch>`` stream objects)."""
    return key_to_datetime(key), key


def compression_of_key(key: str) -> str | None:
    """Compression is derived purely from the ``.gz`` suffix
    (core/.../models/BackupObjectMetadata.scala:5-10)."""
    return "gzip" if key.endswith(".gz") else None


# ---------------------------------------------------------------------------
# Spark column builders
# ---------------------------------------------------------------------------

def slice_col(ts: Column, config: TimeConfiguration, anchor_us: int | None = None) -> Column:
    """Slice-start TimestampType column for each record.

    ChronoUnitSlice -> ``date_trunc`` (origin-free, no anchor needed).
    PeriodFromFirst -> anchor + floor((t - anchor)/period)*period, integer micros
    arithmetic JVM-side (no Python). ``anchor_us`` is the run-scoped first-record
    anchor (see operators/backup.py for how it is captured).
    """
    if isinstance(config, ChronoUnitSlice):
        return F.date_trunc(config.trunc_format, ts)
    if anchor_us is None:
        raise ValueError("PeriodFromFirst requires anchor_us (run-scoped first-record time)")
    period = config.period_micros
    idx = F.floor((F.unix_micros(ts) - F.lit(anchor_us)) / F.lit(period))
    return F.timestamp_micros((idx * F.lit(period) + F.lit(anchor_us)).cast("long"))


def slice_dir_pattern(config: TimeConfiguration) -> str:
    """date_format pattern for slice partition-directory values. ChronoUnit
    slice starts are whole seconds; PeriodFromFirst anchors at the first
    record's (millisecond) event time, so its directories carry millis — a
    seconds-only pattern would silently merge-shift every slice name."""
    if isinstance(config, PeriodFromFirst):
        return "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"
    return "yyyy-MM-dd'T'HH:mm:ssXXX"


def slice_key_col(slice_start: Column, compression: str | None = None) -> Column:
    """ISO-8601 object-key string for a slice-start column. Spark's
    ``date_format`` always prints seconds; `calculate_key` (driver-side) is the
    byte-exact variant used for final object naming — this column form is for
    partition values, where an always-seconds form is stable and sortable."""
    suffix = ".json.gz" if compression == "gzip" else ".json"
    return F.concat(
        F.date_format(slice_start, "yyyy-MM-dd'T'HH:mm:ssXXX"), F.lit(suffix)
    )
