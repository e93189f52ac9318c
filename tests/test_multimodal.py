"""Multimodal plumbing tests: the Arrow/mapInPandas path is real; only the
codec is stubbed."""

from __future__ import annotations

import hashlib

import pytest

from datalakes_and_data_integration_spark.operators.multimodal import (
    attach_payload,
    decode_image,
    extract_features,
)


def test_decode_stub_is_gated():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG....")
    assert decode_image(b"x" * 100, fake=True) == (100, 700 % 480)


def test_extract_features_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, "hello"), (2, "héllo wörld")], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in extract_features(attach_payload(df)).collect()}
    assert out[1].n_bytes == 5
    assert out[1].payload_md5 == hashlib.md5(b"hello").hexdigest()
    # UTF-8 multibyte: é/ö are 2 bytes each
    assert out[2].n_bytes == len("héllo wörld".encode())
    assert out[2].fake_width == out[2].n_bytes % 640


def test_sample_frames_expands_rows(spark):
    from datalakes_and_data_integration_spark.operators.multimodal import (
        sample_frames,
    )

    text = "abcdefghijklmnopqrstuvwxyz" * 5  # 130 chars -> step 43
    df = spark.createDataFrame([(7, text)], ["doc_id", "text"])
    rows = sorted(
        sample_frames(attach_payload(df)).collect(), key=lambda r: r.frame_idx
    )
    assert [r.frame_idx for r in rows] == [0, 1, 2]
    assert [r.frame_offset for r in rows] == [0, 43, 86]
    expect = hashlib.md5(text[43 : 43 + 32].encode()).hexdigest()
    assert rows[1].frame_md5 == expect


def test_audio_features_levels(spark):
    from datalakes_and_data_integration_spark.operators.multimodal import (
        audio_features,
    )

    df = spark.createDataFrame([(1, "AZ")], ["doc_id", "text"])  # bytes 65, 90
    r = audio_features(attach_payload(df), sample_rate=2).collect()[0]
    assert r.duration_s == 1.0
    assert r.mean_level == (65 + 90) / 2
    assert r.peak_level == 90
