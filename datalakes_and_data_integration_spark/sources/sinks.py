"""Warehouse sinks (reference S18 + storage-layout knobs).

The reference replaces a single Postgres/TimescaleDB table wholesale each
run (`/root/reference/src/process_to_curated.py:189-199`,
``if_exists='replace'``). Spark-side: the medallion zones are partitioned
parquet (the lakehouse-native sink), committed by ``write_staged`` when the
write reads the table it replaces; ``write_postgres_copy`` is the curated ->
Postgres bulk load a deployment calls.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Sequence

from pyspark.sql import DataFrame


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
    sort_within: Sequence = (),
) -> None:
    """Partitioned parquet write; optional within-partition sort to mirror
    Cassandra's clustering order (reference preprocess_to_staging.py:107-108
    — `PRIMARY KEY (code_site, date_de_debut)` clustered ASC), which gives
    time-locality for the window stages downstream.

    ``sort_within`` accepts names or Column sort expressions. When the
    upstream plan already emits the requested order (e.g. a window stage
    sorted by the same keys), pass sort expressions with the SAME null
    ordering — Spark's RemoveRedundantSorts can then elide the SortExec
    entirely, instead of re-sorting the full wide table before the write
    (a default-direction mismatch like nulls_first vs the window's
    nulls_last forces a redundant O(n log n) pass)."""
    if sort_within:
        df = df.sortWithinPartitions(*sort_within)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def swap_dir(staged: str, table_dir: str) -> None:
    """Replace ``table_dir`` with ``staged`` via a tombstone rename.

    ``rmtree(table) ; move(staged, table)`` has a window where a crash
    loses the table entirely. Instead: rename the live dir aside (atomic
    on one filesystem), move the staged dir into place, then delete the
    tombstone — a crash at any step leaves either the old or the new data
    recoverable on disk. True multi-reader atomicity needs a table format
    (Delta/Iceberg log); this is the strongest contract a bare directory
    supports.
    """
    tomb = table_dir.rstrip("/") + ".tombstone"
    if os.path.isdir(tomb):  # leftover from a previous crash
        shutil.rmtree(tomb)
    had_old = os.path.isdir(table_dir)
    if had_old:
        os.rename(table_dir, tomb)
    try:
        shutil.move(staged, table_dir)
    except BaseException:
        if had_old and not os.path.isdir(table_dir):
            os.rename(tomb, table_dir)  # roll back
        raise
    if had_old:
        shutil.rmtree(tomb)


def write_staged(
    df: DataFrame,
    table_dir: str,
    partition_by: Sequence[str] = (),
    sort_within: Sequence = (),
) -> None:
    """``write_partitioned`` into a staging dir beside ``table_dir``, then
    ``swap_dir`` it into place — the one write path for a table that the
    write itself reads (a MERGE over the live table, a compaction). Spark
    cannot overwrite a parquet dir it is still scanning, and the swap
    keeps the old or the new table on disk whatever step a crash hits."""
    parent = os.path.dirname(table_dir.rstrip("/")) or "."
    os.makedirs(parent, exist_ok=True)
    staging = tempfile.mkdtemp(prefix=".staged_", dir=parent)
    try:
        out = os.path.join(staging, "data")
        write_partitioned(df, out, partition_by, sort_within)
        swap_dir(out, table_dir)
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def write_postgres_copy(
    df: DataFrame,
    socket_dir: str,
    dbname: str,
    table: str,
    user: str = "postgres",
    mode: str = "overwrite",
    psql_bin: str = "psql",
) -> int:
    """Bulk-load a mart-sized DataFrame into a real Postgres-protocol
    server via ``COPY FROM STDIN`` through ``psql`` — the reference's
    curated-warehouse write (`/root/reference/src/process_to_curated.py:
    189-199`, pandas ``to_sql(if_exists='replace')`` to TimescaleDB)
    re-expressed as the COPY bulk protocol (the fast path every Postgres
    loader converges on; row INSERTs are ~10-50x slower).

    Why not ``write.jdbc('jdbc:postgresql:...')``: the engine ships no
    Postgres JDBC driver jar, and ``psql`` speaks the real wire protocol
    to a REAL Postgres server (tests/test_postgres_sink.py starts one on a
    unix socket). Connection is socket-based: ``psql -h <socket_dir>``.

    Scale shape: the curated mart the reference ships to Postgres is an
    AGGREGATE (thousands of rows, not the lake), so a single-stream COPY
    through the driver is the right size. For fact-scale loads, run the
    same COPY per partition from executors (``df.foreachPartition`` with a
    client lib, or per-partition CSV + parallel ``psql``) against a
    partitioned target table.

    Returns the number of rows loaded. ``mode='overwrite'`` recreates the
    table (the reference's ``if_exists='replace'``); ``'append'`` requires
    it to exist.
    """
    import io
    import subprocess

    def q(ident: str) -> str:
        return '"' + ident.replace('"', '""') + '"'

    _PG_TYPES = {
        "long": "bigint",
        "bigint": "bigint",
        "int": "integer",
        "integer": "integer",
        "smallint": "smallint",
        "tinyint": "smallint",
        "double": "double precision",
        "float": "real",
        "string": "text",
        "boolean": "boolean",
        "date": "date",
        "timestamp": "timestamp",
        "timestamp_ntz": "timestamp",
    }
    cols = []
    for f in df.schema.fields:
        t = f.dataType.typeName()
        if t == "decimal":
            pg = f.dataType.simpleString()  # decimal(p,s) is valid in PG
        elif t in _PG_TYPES:
            pg = _PG_TYPES[t]
        else:
            raise ValueError(
                f"write_postgres_copy: unsupported column type {t!r} for "
                f"{f.name!r} (flatten arrays/structs before the mart write)"
            )
        cols.append(f"{q(f.name)} {pg}")

    pdf = df.toPandas()  # scale-ok: mart-sized aggregate (see docstring)
    buf = io.StringIO()
    pdf.to_csv(buf, index=False, header=False)

    ddl = ""
    if mode == "overwrite":
        ddl = (
            f"DROP TABLE IF EXISTS {q(table)}; "
            f"CREATE TABLE {q(table)} ({', '.join(cols)}); "
        )
    sql = (
        f"{ddl}COPY {q(table)} FROM STDIN WITH (FORMAT csv, NULL '')"
    )
    subprocess.run(
        [
            psql_bin,
            "--no-psqlrc",
            "-v",
            "ON_ERROR_STOP=1",
            "-h",
            socket_dir,
            "-U",
            user,
            "-d",
            dbname,
            "-c",
            sql,
        ],
        input=buf.getvalue().encode(),
        check=True,
        capture_output=True,
    )
    return len(pdf)

