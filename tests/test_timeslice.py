"""Property tests of the pure slice math, mirroring the reference's ScalaCheck
properties (SURVEY.md §5 layer 1-2; BackupClientInterfaceTest.scala:53-127):
- at least one boundary exists when the stream spans > period;
- a record after a boundary is in the next period;
- consecutive in-slice records differ < period;
- key round-trips: key_to_datetime(calculate_key(t)) == t.
"""

import datetime as dt

from hypothesis import given, settings
from hypothesis import strategies as st

from guardian_for_apache_kafka_spark.core.timeslice import (
    ChronoUnitSlice,
    PeriodFromFirst,
    anchor_for,
    calculate_key,
    compression_of_key,
    is_at_boundary,
    key_to_datetime,
    slice_index,
)

# Timestamps in epoch micros over a realistic span (2020-2030)
TS_US = st.integers(min_value=1_577_836_800_000_000, max_value=1_893_456_000_000_000)
PERIOD_US = st.integers(min_value=1_000_000, max_value=24 * 3600 * 1_000_000)


@given(ts=TS_US, period=PERIOD_US)
def test_slice_index_of_anchor_is_zero(ts, period):
    assert slice_index(ts, ts, period) == 0


@given(ts=TS_US, period=PERIOD_US, k=st.integers(0, 1000))
def test_slice_index_affine(ts, period, k):
    assert slice_index(ts, ts + k * period, period) == k
    assert slice_index(ts, ts + k * period + period - 1, period) == k


@given(anchor=TS_US, period=PERIOD_US, data=st.data())
def test_boundary_properties(anchor, period, data):
    # monotone stream of offsets from the anchor (reference generators:
    # strictly increasing timestamps, Generators.scala:76-84)
    gaps = data.draw(st.lists(st.integers(1, period), min_size=2, max_size=50))
    ts = [anchor]
    for g in gaps:
        ts.append(ts[-1] + g)
    idx = [slice_index(anchor, t, period) for t in ts]
    # span > period implies at least one boundary
    if ts[-1] - ts[0] >= period:
        assert any(is_at_boundary(a, b) for a, b in zip(idx, idx[1:]))
    for (t0, i0), (t1, i1) in zip(zip(ts, idx), zip(ts[1:], idx[1:])):
        if is_at_boundary(i0, i1):
            # post-boundary record is in a strictly later period
            assert i1 > i0
        else:
            # consecutive in-slice records differ < period
            assert t1 - t0 < period


@given(
    ts=st.datetimes(
        min_value=dt.datetime(2000, 1, 1),
        max_value=dt.datetime(2100, 1, 1),
        timezones=st.just(dt.timezone.utc),
    ),
    gz=st.booleans(),
)
@settings(max_examples=200)
def test_key_roundtrip(ts, gz):
    key = calculate_key(ts, "gzip" if gz else None)
    assert key_to_datetime(key) == ts
    assert compression_of_key(key) == ("gzip" if gz else None)
    assert key.endswith(".json.gz" if gz else ".json")


def test_key_format_matches_java_iso_offset():
    # java.time ISO_OFFSET_DATE_TIME omits :00 seconds and renders UTC as Z
    t0 = dt.datetime(2023, 1, 1, 10, 0, tzinfo=dt.timezone.utc)
    assert calculate_key(t0) == "2023-01-01T10:00Z.json"
    t1 = dt.datetime(2023, 1, 1, 10, 0, 30, tzinfo=dt.timezone.utc)
    assert calculate_key(t1) == "2023-01-01T10:00:30Z.json"
    t2 = dt.datetime(2023, 1, 1, 10, 0, 30, 123000, tzinfo=dt.timezone.utc)
    assert calculate_key(t2) == "2023-01-01T10:00:30.123Z.json"


@given(ts=TS_US)
def test_chrono_unit_anchor_truncates(ts):
    cfg = ChronoUnitSlice("HOURS")
    a = anchor_for(cfg, ts)
    assert a <= ts and a % (3600 * 1_000_000) == 0
    assert anchor_for(PeriodFromFirst(dt.timedelta(minutes=5)), ts) == ts


def test_key_to_datetime_extensionless_directory_names():
    """Engine-native slice *directory* names carry no .json extension; they must
    parse with offset (and fraction) intact — regression for the pre-parse
    suffix-strip that broke from_when pruning and maintenance."""
    bare = key_to_datetime("2024-01-01T00:00:00Z")
    assert bare == dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    assert bare.tzinfo is not None
    frac = key_to_datetime("2024-01-01T00:00:45.123Z")
    assert frac == dt.datetime(2024, 1, 1, 0, 0, 45, 123000, tzinfo=dt.timezone.utc)
    assert frac.tzinfo is not None
    # extension-ful keys (with a path prefix) still strip down correctly
    assert key_to_datetime("a/b/2024-01-01T00:00:45.123Z.json.gz") == frac
    # partition-directory keys carry a slice= prefix
    assert key_to_datetime("slice=2024-01-01T00:00:00Z") == bare
    assert key_to_datetime("slice=2024-01-01T00:00:45.123Z.json") == frac


_ALL_UNITS = ["SECONDS", "MINUTES", "HOURS", "DAYS"]
_UNIT_US = {"SECONDS": 10**6, "MINUTES": 60 * 10**6,
            "HOURS": 3600 * 10**6, "DAYS": 86400 * 10**6}


@given(ts=TS_US, unit=st.sampled_from(_ALL_UNITS))
@settings(max_examples=300)
def test_chrono_unit_truncation_laws_all_units(ts, unit):
    """VERDICT r4 ask 7: truncation laws for EVERY calendar unit, not just
    HOURS — the anchor is the floor to the unit, never ahead of the record,
    never a full unit behind."""
    u = _UNIT_US[unit]
    a = anchor_for(ChronoUnitSlice(unit), ts)
    assert a % u == 0
    assert a <= ts < a + u


@given(ts=TS_US, unit=st.sampled_from(_ALL_UNITS), k=st.integers(0, 5000),
       jitter=st.integers(0, 10**6))
@settings(max_examples=300)
def test_slice_index_monotone_and_exact_at_unit_boundaries(ts, unit, k, jitter):
    """slice_index is monotone in record time and increments exactly at unit
    boundaries: the boundary instant itself belongs to the NEW slice, the
    microsecond before it to the old one (Java MICROS.between truncating
    division semantics)."""
    u = _UNIT_US[unit]
    anchor = anchor_for(ChronoUnitSlice(unit), ts)
    boundary = anchor + k * u
    assert slice_index(anchor, boundary, u) == k
    assert slice_index(anchor, boundary + min(jitter, u - 1), u) == k
    if k > 0:
        assert slice_index(anchor, boundary - 1, u) == k - 1
    # monotonicity across arbitrary jitter
    t1, t2 = boundary + jitter, boundary + jitter + 1
    assert slice_index(anchor, t1, u) <= slice_index(anchor, t2, u)


@given(ts=TS_US, unit=st.sampled_from(_ALL_UNITS))
@settings(max_examples=300)
def test_calculate_key_roundtrip_at_unit_boundaries(ts, unit):
    """Keys minted exactly at unit boundaries hit the seconds-and-fraction
    omitted branches of the java.time ISO_OFFSET_DATE_TIME formatter; they
    must still round-trip bit-exact through key_to_datetime."""
    u = _UNIT_US[unit]
    a_us = anchor_for(ChronoUnitSlice(unit), ts)
    a = dt.datetime.fromtimestamp(a_us / 10**6, tz=dt.timezone.utc)
    assert a_us % 10**6 == 0  # all units are whole-second; fromtimestamp exact
    for probe in (a, a + dt.timedelta(microseconds=123000), a + dt.timedelta(microseconds=1)):
        key = calculate_key(probe)
        assert key_to_datetime(key) == probe


def test_slice_col_matches_anchor_for_at_boundaries(spark):
    """Spark-side date_trunc (slice_col) agrees with the driver-side integer
    floor (anchor_for) for every unit at boundary, boundary-1us and
    mid-slice instants — the two implementations must never drift."""
    from pyspark.sql import functions as F

    from guardian_for_apache_kafka_spark.core.timeslice import slice_col

    base = dt.datetime(2024, 3, 1, 7, 4, 5, 123456)
    base_us = int(base.replace(tzinfo=dt.timezone.utc).timestamp() * 10**6)
    for unit in _ALL_UNITS:
        u = _UNIT_US[unit]
        cfg = ChronoUnitSlice(unit)
        probes = []
        for k in (-1, 0, 1, 17):
            b = (base_us // u + k) * u
            probes.extend([b, b - 1, b + 1, b + u // 2])
        df = spark.createDataFrame([(p,) for p in probes], "us long").select(
            "us", F.timestamp_micros("us").alias("ts")
        )
        got = {
            r["us"]: r["sl"]
            for r in df.select("us", F.unix_micros(slice_col(F.col("ts"), cfg)).alias("sl")).collect()
        }
        for p in probes:
            assert got[p] == anchor_for(cfg, p), (unit, p)


def test_coalesce_intervals_semantics(spark):
    """Touching intervals (s == prev end) merge; gaps split; containment
    collapses; counts are per-island."""
    from datetime import datetime

    from guardian_for_apache_kafka_spark.operators.timeseries import (
        coalesce_intervals,
    )

    T = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        # user 1: [0,10] + [5,12] overlap; [12,20] touches -> one island
        (1, T(0), T(10)), (1, T(5), T(12)), (1, T(12), T(20)),
        # user 1: gap, then contained interval
        (1, T(30), T(50)), (1, T(35), T(40)),
        # user 2: single
        (2, T(1), T(2)),
    ]
    df = spark.createDataFrame(rows, "k BIGINT, s TIMESTAMP, e TIMESTAMP")
    got = {
        (r.k, r.island_start, r.island_end, r.n_intervals)
        for r in coalesce_intervals(df, "k", "s", "e").collect()
    }
    assert got == {
        (1, T(0), T(20), 3),
        (1, T(30), T(50), 2),
        (2, T(1), T(2), 1),
    }


@settings(max_examples=8, deadline=None)
@given(
    iv=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 400), st.integers(0, 100)),
        min_size=1,
        max_size=40,
    )
)
def test_coalesce_intervals_properties(spark, iv):
    """Properties vs a driver-side sweep: per key, islands are disjoint and
    non-touching, every interval is contained in exactly one island,
    n_intervals sums to the input count, and island bounds are exact."""
    from datetime import datetime, timedelta

    from guardian_for_apache_kafka_spark.operators.timeseries import (
        coalesce_intervals,
    )

    base = datetime(2024, 1, 1)
    rows = [
        (k, base + timedelta(minutes=s), base + timedelta(minutes=s + d))
        for k, s, d in iv
    ]
    df = spark.createDataFrame(rows, "k BIGINT, s TIMESTAMP, e TIMESTAMP")
    got = sorted(
        (r.k, r.island_start, r.island_end, r.n_intervals)
        for r in coalesce_intervals(df, "k", "s", "e").collect()
    )

    # reference: sweep-line merge per key
    want = []
    bykey = {}
    for k, s, e in rows:
        bykey.setdefault(k, []).append((s, e))
    for k, ivs in bykey.items():
        ivs.sort()
        cur_s, cur_e, n = ivs[0][0], ivs[0][1], 1
        for s, e in ivs[1:]:
            if s <= cur_e:
                cur_e, n = max(cur_e, e), n + 1
            else:
                want.append((k, cur_s, cur_e, n))
                cur_s, cur_e, n = s, e, 1
        want.append((k, cur_s, cur_e, n))
    assert got == sorted(want)
