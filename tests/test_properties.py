"""Property-based tests (hypothesis) for the pure operator kernels.

These pin invariants rather than examples: name normalization is idempotent
and regex-safe on arbitrary unicode; the deterministic hash agrees between
its Python and the engines' md5 derivations; last-N-days windows are always
contiguous and correctly sized.
"""

from __future__ import annotations

import datetime as dt
import re

from hypothesis import given, settings
from hypothesis import strategies as st

from datalakes_and_data_integration_spark.functions.hashing import hash60_py
from datalakes_and_data_integration_spark.operators.normalize import (
    normalize_column_name,
)
from datalakes_and_data_integration_spark.sources.remote_fetch import (
    last_n_days,
)

_VALID = re.compile(r"^(_|[a-z])[a-z0-9_]*$|^_?$")


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=60))
def test_normalize_output_shape(name):
    out = normalize_column_name(name)
    # Output alphabet: lowercase ascii, digits, underscore; never starts
    # with a digit (the Cassandra/SQL identifier contract,
    # reference preprocess_to_staging.py:13-32).
    assert _VALID.match(out), (name, out)


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=60))
def test_normalize_idempotent(name):
    once = normalize_column_name(name)
    assert normalize_column_name(once) == once


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=80))
def test_hash60_range_and_determinism(s):
    h = hash60_py(s)
    assert 0 <= h < (1 << 60)
    assert hash60_py(s) == h  # stable
    assert hash60_py(s, seed=1) != h or s == ""  # seeds separate (md5 collision-free here)


def _simhash_bands(sig: int) -> list[int]:
    """The same 60-bit -> 7-band split dedup_simhash_pairs builds in SQL
    (4x9 + 3x8 bits)."""
    n_bands = 7
    base, extra = divmod(60, n_bands)
    out, off = [], 0
    for i in range(n_bands):
        w = base + (1 if i < extra else 0)
        out.append((sig >> off) & ((1 << w) - 1))
        off += w
    return out


@settings(max_examples=300, deadline=None)
@given(
    st.integers(min_value=0, max_value=(1 << 60) - 1),
    st.sets(st.integers(min_value=0, max_value=59), min_size=0, max_size=6),
)
def test_simhash_band_pigeonhole(sig, flip_bits):
    """Any pair at hamming <= 6 must share at least one exact band — the
    candidate-generation guarantee dedup_simhash_pairs relies on (7 bands,
    <= 6 differing bits, so one band is untouched)."""
    other = sig
    for b in flip_bits:
        other ^= 1 << b
    assert bin(sig ^ other).count("1") <= 6
    a, b_ = _simhash_bands(sig), _simhash_bands(other)
    assert any(x == y for x, y in zip(a, b_))


@settings(max_examples=100, deadline=None)
@given(
    st.integers(min_value=1, max_value=400),
    st.dates(min_value=dt.date(2000, 1, 2), max_value=dt.date(2030, 12, 31)),
)
def test_last_n_days_contiguous(n, today):
    days = last_n_days(n, today=today)
    assert len(days) == n
    parsed = [dt.date.fromisoformat(d) for d in days]
    assert parsed[0] == today
    assert all(
        (parsed[i] - parsed[i + 1]).days == 1 for i in range(len(parsed) - 1)
    )

