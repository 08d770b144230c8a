"""Property test (hypothesis, no Spark) for the store's one data-skipping
decision: stats entries built in Python exactly as the stats writer
records them (zone map = min/max/null count; bloom digest = the
xxhash64 bit positions of every non-NULL value) must never let
`_skip_reason` skip a unit that holds a value matching a point,
interval, prefix or NULL probe."""

from __future__ import annotations

import base64

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from file_db_spark.filedb.store import (
    TableStore,
    _bloom_positions,
    _Probe,
    _skip_reason,
    portable_xxhash64,
)

_K = 4
_BITS_PER_KEY = 16

_INTS = st.integers(min_value=-40, max_value=40)
# includes the max code point: the prefix upper bound must step past it
_STRS = st.text(alphabet="ab/\U0010FFFF", max_size=4)


def _stats_entry(values: list, dtype, zoned: bool, bloomed: bool) -> dict | None:
    vals = [v for v in values if v is not None]
    entry: dict = {}
    if zoned:
        entry.update(
            min=min(vals) if vals else None,
            max=max(vals) if vals else None,
            nulls=len(values) - len(vals),
        )
    if bloomed:
        hashes = {portable_xxhash64(v, dtype) for v in vals}
        nbits = max(64, len(hashes) * _BITS_PER_KEY)
        m = 1 << (nbits - 1).bit_length()
        bmp = bytearray(m // 8)
        for h in hashes:
            for p in _bloom_positions(h, m, _K):
                bmp[p >> 3] |= 1 << (p & 7)
        entry["bloom"] = {"m": m, "k": _K, "bits": base64.b64encode(bytes(bmp)).decode()}
    return entry or None


@st.composite
def _case(draw):
    is_str = draw(st.booleans())
    dtype = T.StringType() if is_str else T.LongType()
    elems = st.one_of(st.none(), _STRS if is_str else _INTS)
    values = draw(st.lists(elems, max_size=8))
    zoned, bloomed = draw(st.booleans()), draw(st.booleans())
    scalar = _STRS if is_str else _INTS
    kind = draw(st.sampled_from(["point", "interval", "prefix", "null"]))
    if kind == "prefix" and not is_str:
        kind = "interval"
    if kind == "point":
        keys = draw(st.lists(st.one_of(st.none(), scalar), min_size=1, max_size=4))
        probe = _Probe(keys=keys, hash_of=lambda v: portable_xxhash64(v, dtype))

        def matches(v):
            return v in keys

    elif kind == "interval":
        lo, hi = draw(st.one_of(st.none(), scalar)), draw(st.one_of(st.none(), scalar))
        hi_open = draw(st.booleans())
        probe = _Probe(intervals=[(lo, hi, hi_open)])

        def matches(v):
            return (
                v is not None
                and (lo is None or lo <= v)
                and (hi is None or (v < hi if hi_open else v <= hi))
            )

    elif kind == "prefix":
        prefix = draw(_STRS)
        probe = _Probe(intervals=[(prefix, TableStore._prefix_upper(prefix), True)])

        def matches(v):
            return v is not None and v.startswith(prefix)

    else:
        probe = _Probe(want_nulls=True)

        def matches(v):
            return v is None

    return _stats_entry(values, dtype, zoned, bloomed), values, probe, matches


@settings(max_examples=400, deadline=None)
@given(_case())
def test_prune_never_skips_a_matching_unit(case):
    entry, values, probe, matches = case
    if any(matches(v) for v in values):
        assert _skip_reason(entry, probe) is None, (entry, values)


@settings(max_examples=100, deadline=None)
@given(st.lists(_INTS, min_size=1, max_size=8), _INTS)
def test_zone_map_skips_out_of_range_points(values, key):
    """The decision is not vacuous: a point outside a zone-mapped
    unit's range is skipped on the zone map."""
    entry = _stats_entry(values, T.LongType(), True, False)
    reason = _skip_reason(entry, _Probe(keys=[key]))
    assert (reason == "zone") == (key < min(values) or key > max(values))
