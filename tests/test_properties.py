"""Property-based tests (hypothesis) for the pure layers: type
validation/coercion, timestamp roundtrips, split_range invariants,
parser/resolver robustness, and driver-side latest-wins resolution.
No SparkSession needed — these run in ms."""

import zlib

import pyarrow as pa
from hypothesis import example, given, settings
from hypothesis import strategies as st

from opentick_spark.engine import split_range
from opentick_spark.errors import OpentickError
from opentick_spark.table import latest_arrow
from opentick_spark.typesys import (
    NS_PER_SEC,
    from_epoch_nanos,
    to_epoch_nanos,
    validate_value,
)

ints = st.integers(min_value=-(2**62), max_value=2**62)


@given(ints)
def test_int_clamp_saturates(v):
    for t, lo, hi in [
        ("tinyint", -128, 127),
        ("smallint", -32768, 32767),
        ("int", -(2**31), 2**31 - 1),
    ]:
        out = validate_value(v, t)
        assert lo <= out <= hi
        if lo <= v <= hi:
            assert out == v
        else:
            assert out == (lo if v < lo else hi)


@given(ints)
def test_bigint_passthrough(v):
    assert validate_value(v, "bigint") == v


@given(st.integers(min_value=0, max_value=2**53), st.integers(0, NS_PER_SEC - 1))
def test_timestamp_pair_roundtrip(sec, nsec):
    nanos = to_epoch_nanos([sec, nsec])
    assert nanos == sec * NS_PER_SEC + nsec
    assert from_epoch_nanos(nanos) == (sec, nsec)


@given(st.booleans())
def test_bool_not_an_int(b):
    try:
        validate_value(b, "int")
        raise AssertionError("bool accepted as int")
    except OpentickError:
        pass
    assert validate_value(b, "boolean") is b


@given(
    st.integers(-(2**40), 2**40),
    st.integers(1, 2**41),
    st.integers(2, 64),
)
def test_split_range_invariants(a, width, n):
    b = a + width
    parts = split_range(a, b, n)
    assert len(parts) == n
    # covers [a, b] exactly, adjacent bounds shared, monotone
    assert parts[0][0] == a and parts[-1][1] == b
    for (lo1, hi1), (lo2, _) in zip(parts, parts[1:]):
        assert hi1 == lo2
        assert lo1 <= hi1


@settings(max_examples=200)
@given(st.text(max_size=80))
def test_parser_never_crashes(sql):
    """Arbitrary input either parses or raises OpentickError — never an
    unhandled exception (parser.go's participle grammar rejects cleanly)."""
    from opentick_spark.dialect.parser import parse

    try:
        parse(sql)
    except OpentickError:
        pass


# one row version: (lead, sub-key, seq, sub); its value and tombstone
# flag are a function of that identity, because an exact (pk, seq, sub)
# duplicate is the SAME stored row listed twice (base + log while a
# compaction publishes) and so carries identical cells
_version = st.tuples(
    st.one_of(st.integers(0, 3), st.text("ab\u00e9\U0001f600", max_size=2)),
    st.integers(0, 2),
    st.integers(1, 4),
    st.integers(0, 2),
)


@settings(max_examples=300, deadline=None)
@given(
    st.lists(_version, max_size=40),
    st.sets(st.integers(0, 39)),
    st.integers(0, 40),
    st.booleans(),
)
# two versions of one PK in the same commit: only __sub decides
@example([(0, 0, 1, 0), (0, 0, 1, 1)], set(), 1, False)
# delete, then re-insert; and insert, then delete
@example([(0, 0, 1, 0), (0, 0, 2, 0), (0, 0, 3, 0)], {1}, 0, False)
@example([(1, 0, 1, 0), (1, 0, 2, 0)], {1}, 0, True)
# exact (pk, seq, sub) duplicates
@example([(2, 1, 3, 0), (2, 1, 3, 0), (2, 1, 1, 0)], set(), 1, False)
# text leading PK, descending
@example([("b", 0, 1, 0), ("a", 0, 1, 0), ("ab", 1, 2, 0)], set(), 2, True)
def test_latest_arrow_matches_dict_reference(versions, dead_idx, cut, descending):
    """latest_arrow == a dict reference: per PK the max (__seq, __sub)
    wins, a winning tombstone drops the PK, and rows come back in PK
    order (descending for tails). ``dead_idx`` picks the tombstones by
    index into the sorted distinct versions. A column holds one type,
    so each example keeps the leading-PK type of its first row."""
    if versions:
        text_lead = isinstance(versions[0][0], str)
        versions = [v for v in versions if isinstance(v[0], str) == text_lead]
    distinct = sorted(set(versions))
    dead = {distinct[i] for i in dead_idx if i < len(distinct)}

    def value(v):
        return float(zlib.crc32(repr(v).encode()))

    ref = {}
    for v in versions:
        if v[:2] not in ref or v[2:] > ref[v[:2]][2:]:
            ref[v[:2]] = v
    want = sorted((v[0], v[1], value(v)) for v in ref.values() if v not in dead)
    if descending:
        want.reverse()
    lead_type = (
        pa.string() if versions and isinstance(versions[0][0], str) else pa.int64()
    )
    tbl = pa.table(
        [
            pa.array([v[0] for v in versions], lead_type),
            pa.array([v[1] for v in versions], pa.int32()),
            pa.array([value(v) for v in versions], pa.float64()),
            pa.array([v[2] for v in versions], pa.int64()),
            pa.array([v[3] for v in versions], pa.int64()),
            pa.array([v in dead for v in versions], pa.bool_()),
        ],
        names=["lead", "k", "val", "__seq", "__sub", "__del"],
    )
    # a collected table arrives in several record batches
    cut = min(cut, tbl.num_rows)
    tbl = pa.concat_tables([tbl.slice(0, cut), tbl.slice(cut)])
    out = latest_arrow(tbl, ["lead", "k"], descending)
    assert out.column_names == ["lead", "k", "val"]
    assert list(zip(*out.to_pydict().values())) == want
