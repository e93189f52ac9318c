"""Tests for the ingest API (reference S7-S10) and keyed upsert (S15)."""

from __future__ import annotations

import json
import urllib.request
import uuid

from pyspark.sql import functions as F

from datalakes_and_data_integration_spark.operators.upsert import (
    merge_new_only,
    read_table,
)
from datalakes_and_data_integration_spark.sources.ingest_api import serve
from datalakes_and_data_integration_spark.sources.sinks import (
    swap_dir,
    write_staged,
)


def _post(url: str, body: bytes, content_type: str):
    req = urllib.request.Request(url, data=body, method="POST")
    req.add_header("Content-Type", content_type)
    with urllib.request.urlopen(req) as resp:
        return resp.status, json.loads(resp.read())


def _multipart(files: dict[str, bytes]) -> tuple[bytes, str]:
    boundary = uuid.uuid4().hex
    parts = []
    for name, payload in files.items():
        parts.append(
            f'--{boundary}\r\nContent-Disposition: form-data; '
            f'name="file"; filename="{name}"\r\n'
            f"Content-Type: text/csv\r\n\r\n".encode() + payload + b"\r\n"
        )
    body = b"".join(parts) + f"--{boundary}--\r\n".encode()
    return body, f"multipart/form-data; boundary={boundary}"


def test_ingest_api_stores_and_triggers(tmp_path):
    triggered = []
    server = serve(str(tmp_path / "landing"), trigger=triggered.append)
    port = server.server_address[1]
    try:
        csv = "﻿Date de début;valeur\n2025/03/07 00:00:00;10.0\n".encode()
        body, ctype = _multipart(
            {"polluant-01_2025-03-07.csv": csv, "notes.txt": b"junk"}
        )
        status, out = _post(f"http://127.0.0.1:{port}/ingest", body, ctype)
        assert status == 200
        assert out["stored"] == ["polluant-01_2025-03-07.csv"]
        assert out["skipped"] == ["notes.txt"]  # P8 filename filter
        assert (tmp_path / "landing" / "polluant-01_2025-03-07.csv").read_bytes() == csv

        status, out = _post(f"http://127.0.0.1:{port}/ingest/fast", body, ctype)
        assert status == 200
        import time

        for _ in range(50):
            if len(triggered) >= 2:
                break
            time.sleep(0.05)
        assert sorted(triggered) == ["fast", "regular"]

        status, out = _post(f"http://127.0.0.1:{port}/ingest/csv", body, ctype)
        assert status == 200
        assert out["parsed"] == {"polluant-01_2025-03-07.csv": 1}

        status, out = _post(
            f"http://127.0.0.1:{port}/ingest/blob",
            json.dumps([{"b": 1}, {"b": 2}]).encode(),
            "application/json",
        )
        assert status == 200 and out["accepted"] == 2
    finally:
        server.shutdown()


def test_merge_new_only_first_writer_wins(spark):
    existing = spark.createDataFrame(
        [("s1", 1, "old")], ["site", "t", "payload"]
    )
    updates = spark.createDataFrame(
        [
            ("s1", 1, "clobber-attempt"),  # key exists -> dropped (LWT)
            ("s1", 2, "b-first"),
            ("s1", 2, "a-dup-second"),  # in-batch dup -> deterministic winner
            ("s2", 1, "new-site"),
        ],
        ["site", "t", "payload"],
    )
    out = merge_new_only(
        existing, updates, keys=["site", "t"], order_by=[F.col("payload")]
    ).orderBy("site", "t")
    rows = [(r.site, r.t, r.payload) for r in out.collect()]
    assert rows == [
        ("s1", 1, "old"),  # existing row wins over the update
        ("s1", 2, "a-dup-second"),  # smallest payload under the order
        ("s2", 1, "new-site"),
    ]


def test_upsert_parquet_roundtrip(spark, tmp_path):
    table = str(tmp_path / "t")
    b1 = spark.createDataFrame([("k1", "v1"), ("k2", "v2")], ["k", "v"])
    b2 = spark.createDataFrame([("k2", "CLOBBER"), ("k3", "v3")], ["k", "v"])
    for batch in (b1, b2):
        existing = read_table(spark, table, batch.schema)
        write_staged(merge_new_only(existing, batch, keys=["k"]), table)
    rows = {(r.k, r.v) for r in spark.read.parquet(table).collect()}
    assert rows == {("k1", "v1"), ("k2", "v2"), ("k3", "v3")}


def test_swap_dir_tombstone_rollback(spark, tmp_path):
    import os

    table = tmp_path / "t"
    table.mkdir()
    (table / "old.txt").write_text("old")
    staged = tmp_path / "staged"
    staged.mkdir()
    (staged / "new.txt").write_text("new")
    swap_dir(str(staged), str(table))
    assert (table / "new.txt").read_text() == "new"
    assert not os.path.isdir(str(table) + ".tombstone")  # cleaned up

    # A failed move must roll the tombstone back so the table survives.
    missing_staged = str(tmp_path / "does_not_exist")
    try:
        swap_dir(missing_staged, str(table))
    except Exception:
        pass
    assert (table / "new.txt").read_text() == "new"  # table still intact


def test_salted_join_rejects_outer(spark):
    import pytest

    from datalakes_and_data_integration_spark.operators.skew import salted_join

    fact = spark.createDataFrame([(1, "a")], ["k", "x"])
    dim = spark.createDataFrame([(1, "d")], ["k", "y"])
    for how in ("right", "full", "outer", "full_outer"):
        with pytest.raises(ValueError):
            salted_join(fact, dim, on="k", how=how)
    # inner and left still work and do not duplicate
    assert salted_join(fact, dim, on="k", how="inner").count() == 1
    assert salted_join(fact, dim, on="k", how="left").count() == 1


def test_ingest_api_rejects_oversized_body(tmp_path, monkeypatch):
    import urllib.error

    from datalakes_and_data_integration_spark.sources.ingest_api import (
        IngestHandler,
    )

    monkeypatch.setattr(IngestHandler, "max_body_bytes", 1024)
    server = serve(str(tmp_path / "landing"))
    port = server.server_address[1]
    try:
        body, ctype = _multipart(
            {"polluant-01_2025-03-07.csv": b"x" * 4096}
        )
        try:
            _post(f"http://127.0.0.1:{port}/ingest", body, ctype)
            raise AssertionError("expected HTTP 413")
        except urllib.error.HTTPError as e:
            assert e.code == 413
        # Under-cap requests still work after a rejected one.
        small, ctype2 = _multipart({"polluant-01_2025-03-07.csv": b"a;b\n1;2\n"})
        status, out = _post(f"http://127.0.0.1:{port}/ingest", small, ctype2)
        assert status == 200
    finally:
        server.shutdown()
