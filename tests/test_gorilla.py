"""Gorilla codec roundtrip property tests (FIXTURES.md F5)."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from stumpy_spark.functions import gorilla


def roundtrip(ts, vals):
    ts = np.asarray(ts, dtype=np.int64)
    vals = np.asarray(vals, dtype=np.float64)
    blob = gorilla.encode(ts, vals)
    ts2, vals2 = gorilla.decode(blob)
    np.testing.assert_array_equal(ts, ts2)
    assert np.array_equal(vals.view(np.uint64), vals2.view(np.uint64))
    return blob


def test_empty():
    roundtrip([], [])


def test_single():
    roundtrip([1735689600], [3.14159])


def test_two():
    roundtrip([1735689600, 1735689660], [1.0, 1.0])


def test_regular_spacing_constant_values():
    ts = 1735689600 + 60 * np.arange(1000)
    vals = np.full(1000, 42.5)
    blob = roundtrip(ts, vals)
    # regular spacing + constant values ≈ 2 bits/point after the header
    assert len(blob) < 300


def test_irregular_spacing_random_walk():
    rs = np.random.RandomState(42)
    ts = np.cumsum(rs.randint(1, 3600, 1000)) + 1735689600
    vals = np.cumsum(rs.normal(0, 1, 1000))
    roundtrip(ts, vals)


def test_negative_dod_and_values():
    ts = [100, 200, 250, 400, 401, 1000000, 1000001]
    vals = [-1.5, 2.5, -3.5, 0.0, -0.0, np.pi, -np.pi]
    roundtrip(ts, vals)


def test_nan_inf_bits_preserved():
    ts = 60 * np.arange(6)
    vals = np.array([np.nan, np.inf, -np.inf, 0.0, 1e308, 5e-324])
    roundtrip(ts, vals)


@settings(max_examples=50, deadline=None)
@given(st.lists(st.tuples(
    st.integers(min_value=0, max_value=2 ** 40),
    st.floats(allow_nan=True, allow_infinity=True)), max_size=60))
def test_property_roundtrip(pairs):
    if pairs:
        ts = np.sort(np.array([p[0] for p in pairs], dtype=np.int64))
        vals = np.array([p[1] for p in pairs])
    else:
        ts, vals = [], []
    roundtrip(ts, vals)


def test_compression_ratio_realistic():
    """1m-bucket rollup points compress well below raw 16 B/point."""
    ts = 1735689600 + 60 * np.arange(10000)
    rs = np.random.RandomState(1)
    vals = np.round(rs.normal(500, 10, 10000))   # integer-ish metric
    blob = gorilla.encode(ts, vals)
    assert len(blob) < 0.5 * 16 * 10000


def test_spark_compress_tier(spark):
    from stumpy_spark.rollup import compress as C
    rs = np.random.RandomState(7)
    buckets = pd.date_range("2025-01-01", periods=200, freq="1h")
    pdf = pd.DataFrame({
        "source": np.repeat(["web", "books"], 100),
        "bucket": np.concatenate([buckets[:100], buckets[:100]]),
        "n_seq": rs.randint(0, 50, 200).astype(np.float64),
        "sum_n_tok": rs.randint(0, 5000, 200).astype(np.float64),
    })
    df = spark.createDataFrame(pdf)
    chunks = C.compress_tier(df, ["n_seq", "sum_n_tok"])
    points = C.decompress_tier(chunks).toPandas()
    got = points[points.metric == "n_seq"].sort_values(
        ["source", "bucket"]).reset_index(drop=True)
    exp = pdf.sort_values(["source", "bucket"])[
        ["source", "bucket", "n_seq"]].reset_index(drop=True)
    assert (got.value.to_numpy() == exp.n_seq.to_numpy()).all()
    assert (got.bucket.to_numpy() == exp.bucket.to_numpy()).all()
    cp = chunks.toPandas()
    assert (cp.encoded_bytes < cp.raw_bytes).all()


def test_spark_gorilla_plans_are_arrow_native(spark):
    """Packing runs as a grouped Arrow UDF and unpacking as an Arrow
    map, with no pandas node in either executed plan."""
    from stumpy_spark.rollup import compress as C

    df = spark.createDataFrame(pd.DataFrame({
        "source": ["web", "web", "books"],
        "bucket": pd.to_datetime(["2025-01-01 00:00", "2025-01-01 01:00",
                                  "2025-01-02 05:00"]),
        "n_seq": [1.0, 2.0, 3.0]}))
    chunks = C.compress_tier(df, ["n_seq"])
    points = C.decompress_tier(chunks)
    assert sorted(points.toPandas().value) == [1.0, 2.0, 3.0]
    for out, node in ((chunks, "FlatMapGroupsInArrow"),
                      (points, "MapInArrow")):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert node in plan and "Pandas" not in plan, plan


def test_unknown_format_version_rejected():
    blob = bytearray(gorilla.encode(np.array([1, 2]), np.array([1.0, 2.0])))
    blob[0] ^= 0xFF                       # corrupt the version byte
    with pytest.raises(ValueError, match="format version"):
        gorilla.decode(bytes(blob))


def test_version_byte_leads_block():
    blob = gorilla.encode(np.array([], dtype=np.int64), np.array([]))
    assert blob[0] == gorilla.FORMAT_VERSION
