"""Multimodal query: binary-payload feature extraction through the real
mapInPandas plumbing (operators/multimodal.py), oracle-checked because the
stubbed decode is deterministic and SQL-expressible."""

from __future__ import annotations

from datalakes_and_data_integration_spark.operators.multimodal import (
    attach_payload,
    extract_features,
)
from datalakes_and_data_integration_spark.plans._util import T, r6
from datalakes_and_data_integration_spark.plans.registry import register


@register(
    "multimodal_feature_extract",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS payload_md5,
           octet_length(encode(text)) % 640 AS fake_width,
           (octet_length(encode(text)) * 7) % 480 AS fake_height
    FROM documents
    """,
    description="Binary media payload -> Arrow-batched mapInPandas feature "
    "extraction (byte length, digest, stubbed decode dims). The pandas UDF "
    "plumbing is real; only the codec is a deterministic fake.",
    tags=("multimodal", "pandas-udf", "llm-pipeline"),
)
def multimodal_feature_extract(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return extract_features(attach_payload(d))


@register(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id, frame_idx, frame_offset,
           md5(substring(text, frame_offset + 1, 32)) AS frame_md5
    FROM (
      SELECT doc_id, text, i AS frame_idx,
             CAST(i * (length(text) // 3) AS BIGINT) AS frame_offset
      FROM documents, unnest([0, 1, 2]) AS t(i)
    )
    """,
    description="Stubbed video frame sampling: 3 evenly spaced fixed-length "
    "payload slices per document through row-expanding mapInPandas (each "
    "input row yields 3 output rows, partition-local).",
    tags=("multimodal", "pandas-udf", "llm-pipeline"),
)
def multimodal_frame_sample(spark, sf_dir):
    from datalakes_and_data_integration_spark.operators.multimodal import (
        sample_frames,
    )

    d = T(spark, sf_dir, "documents")
    return sample_frames(attach_payload(d))


@register(
    "multimodal_audio_features",
    # Byte-level arithmetic IS DuckDB-expressible: hex() the payload blob,
    # decode each byte from its two hex digits via strpos against
    # '0123456789ABCDEF', and aggregate. Integer sums/counts are exact and
    # each output is one correctly-rounded double division, so the oracle
    # matches the pandas arithmetic bit-for-bit.
    oracle="""
    WITH pay AS (
      SELECT doc_id, hex(encode(text)) AS h,
             octet_length(encode(text)) AS n
      FROM documents
    ),
    pos AS (
      SELECT doc_id, h, unnest(range(1, n + 1)) AS i FROM pay
    ),
    bytes AS (
      SELECT doc_id,
             (strpos('0123456789ABCDEF', substr(h, 2*i - 1, 1)) - 1) * 16
             + (strpos('0123456789ABCDEF', substr(h, 2*i, 1)) - 1) AS b
      FROM pos
    ),
    agg AS (
      SELECT doc_id, CAST(sum(b) AS BIGINT) AS sb,
             CAST(max(b) AS BIGINT) AS mx, count(*) AS nb
      FROM bytes GROUP BY doc_id
    )
    SELECT p.doc_id,
           CAST(p.n AS DOUBLE) / 16000 AS duration_s,
           coalesce(CAST(a.sb AS DOUBLE) / a.nb, 0.0) AS mean_level,
           coalesce(a.mx, 0) AS peak_level
    FROM pay p LEFT JOIN agg a USING (doc_id)
    """,
    description="Stubbed audio feature extraction (duration, mean/peak "
    "sample level over payload bytes) through mapInPandas; the oracle "
    "replays the byte arithmetic in SQL via hex-digit decoding.",
    tags=("multimodal", "pandas-udf", "llm-pipeline"),
)
def multimodal_audio_features(spark, sf_dir):
    from datalakes_and_data_integration_spark.operators.multimodal import (
        audio_features,
    )

    d = T(spark, sf_dir, "documents")
    return audio_features(attach_payload(d))


@register(
    "multimodal_metadata_stats",
    oracle="""
    SELECT media_type, count(*) AS n_docs,
           CAST(sum(declared_len) AS BIGINT) AS total_bytes,
           CAST(min(declared_len) AS BIGINT) AS min_bytes,
           CAST(max(declared_len) AS BIGINT) AS max_bytes
    FROM (
      SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
             ELSE 'video' END AS media_type,
             octet_length(encode(text)) AS declared_len
      FROM documents
    )
    GROUP BY media_type
    """,
    description="Typed media-metadata struct column (media_type, source, "
    "declared_len) attached to binary payloads, then grouped stats over the "
    "struct fields — the metadata side of the multimodal column design "
    "(operators.multimodal.MEDIA_METADATA).",
    tags=("multimodal", "struct", "llm-pipeline"),
)
def multimodal_metadata_stats(spark, sf_dir):
    from pyspark.sql import functions as F

    d = T(spark, sf_dir, "documents")
    with_meta = attach_payload(d).withColumn(
        "media_meta",
        F.struct(
            F.element_at(
                F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                (F.col("doc_id") % 3 + 1).cast("int"),
            ).alias("media_type"),
            F.col("source").alias("source"),
            F.length("payload").cast("long").alias("declared_len"),
        ),
    )
    return with_meta.groupBy(
        F.col("media_meta.media_type").alias("media_type")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("media_meta.declared_len").alias("total_bytes"),
        F.min("media_meta.declared_len").alias("min_bytes"),
        F.max("media_meta.declared_len").alias("max_bytes"),
    )


# Perceptual-hash near-dup over binary payloads: the multimodal DEDUP
# tier. 20-bit block-mean pHash per payload (operators.multimodal.
# perceptual_hash — integer arithmetic only, so the SQL oracle replays
# it from hex-decoded bytes), then exact hamming <= 2 pairs found via
# 3-band pigeonhole buckets (7/7/6 bits: any pair within hamming 2
# leaves one band untouched) — the same candidates-only shuffle shape as
# the simhash text path, applied to media payloads. A real image pHash
# swaps decoded luma pixels for raw bytes; blocking, thresholding,
# banding, and verification are unchanged.

_PH_BANDS_SQL = [
    ("phash & 127", 0),  # bits 0-6
    ("(phash >> 7) & 127", 1),  # bits 7-13
    ("(phash >> 14) & 63", 2),  # bits 14-19
]


def _phash_oracle() -> str:
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, phash, {i} AS band, CAST({expr} AS BIGINT) AS bv "
        "FROM ph"
        for expr, i in _PH_BANDS_SQL
    )
    return f"""
    WITH pay AS (
      SELECT doc_id, hex(encode(text)) AS h,
             octet_length(encode(text)) AS n
      FROM documents
    ),
    pos AS (
      SELECT doc_id, n, h, unnest(range(1, n + 1)) AS i
      FROM pay WHERE n > 0
    ),
    bytes AS (
      SELECT doc_id, n, ((i - 1) * 20) // n AS blk,
             (strpos('0123456789ABCDEF', substr(h, 2*i - 1, 1)) - 1) * 16
             + (strpos('0123456789ABCDEF', substr(h, 2*i, 1)) - 1) AS b
      FROM pos
    ),
    blocks AS (
      SELECT p.doc_id, p.n, g.blk,
             CAST(coalesce(s.sb, 0) AS BIGINT) AS sb,
             CAST(coalesce(s.nb, 0) AS BIGINT) AS nb
      FROM pay p CROSS JOIN (SELECT unnest(range(20)) AS blk) g
      LEFT JOIN (
        SELECT doc_id, blk, sum(b) AS sb, count(*) AS nb
        FROM bytes GROUP BY doc_id, blk
      ) s ON s.doc_id = p.doc_id AND s.blk = g.blk
      WHERE p.n > 0
    ),
    tot AS (SELECT doc_id, CAST(sum(sb) AS BIGINT) AS total FROM blocks GROUP BY doc_id),
    ph AS (
      SELECT b.doc_id,
             CAST(sum(CASE WHEN b.sb * b.n > t.total * b.nb
                           THEN 1 << b.blk ELSE 0 END) AS BIGINT) AS phash
      FROM blocks b JOIN tot t USING (doc_id)
      GROUP BY b.doc_id
    ),
    bands AS ({band_rows}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, a.phash AS ph_a,
                      b.doc_id AS doc_b, b.phash AS ph_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(ph_a, ph_b)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(ph_a, ph_b)) <= 2
    """


@register(
    "multimodal_phash_neardup",
    oracle=_phash_oracle(),
    description="Perceptual-hash near-dup over binary payloads: 16-bit "
    "block-mean pHash per payload via Arrow-batched mapInPandas (integer "
    "arithmetic only — block mean vs global mean by cross-multiplication), "
    "exact hamming<=2 pairs via 3-band (7/7/6-bit) pigeonhole buckets "
    "with bit_count verification of candidates only. The multimodal dedup "
    "tier: swap raw bytes for decoded luma and the same pipeline is image "
    "near-dup at 100 TB (candidates shuffle, never payloads).",
    tags=("multimodal", "dedup", "pandas-udf", "phash", "llm-pipeline"),
)
def multimodal_phash_neardup(spark, sf_dir):
    from pyspark.sql import functions as F

    from datalakes_and_data_integration_spark.operators.multimodal import (
        perceptual_hash,
    )
    from datalakes_and_data_integration_spark.plans._util import spread

    d = spread(T(spark, sf_dir, "documents"), spark)
    ph = perceptual_hash(attach_payload(d)).select("doc_id", "phash").persist()
    bands = ph.select(
        "doc_id",
        "phash",
        F.posexplode(
            F.array(
                F.expr("phash & 127"),
                F.expr("shiftright(phash, 7) & 127"),
                F.expr("shiftright(phash, 14) & 63"),
            )
        ).alias("band", "bv"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.phash").alias("ph_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.phash").alias("ph_b"),
        )
        .distinct()
    )
    ham = F.expr("bit_count(ph_a ^ ph_b)")
    return cand.select(
        "doc_a", "doc_b", ham.cast("long").alias("hamming")
    ).filter(F.col("hamming") <= 2)


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC) of binary payloads — the blob-level
# dedup tier (restic/borg/LBFS shape) that completes the dedup ladder:
# exact doc -> passage -> near-dup -> perceptual hash -> byte chunks.
# A chunk boundary falls after byte i when the polynomial hash of the
# trailing 8-byte window is 0 mod 64 (expected chunk ~64 bytes), so
# boundaries depend only on LOCAL content — inserting bytes re-chunks
# only the neighborhood of the edit, which is the whole point of CDC
# (fixed-size blocks shift everything after an insert).
#
# Fully oracle-checked: the window hash is a pure per-position function
# of 8 bytes (no running state), bytes come from the payload's hex string
# (the multimodal_audio_features recipe), and all arithmetic is int64
# (255 * 131^7 * 8 < 2^63). Chunk fingerprints are md5 over the hex
# substring, identical in both engines.
#
# Scale: position explode is a narrow map (one row per payload byte —
# same shape as the audio-features decode); the per-doc boundary window
# is bounded by payload length; the dedup aggregate is one grouped count
# on chunk digests.
# ---------------------------------------------------------------------------

_CDC_W = 8  # window bytes
_CDC_P = 131  # polynomial base: 255 * 131^7 * 8 stays far below 2^63
_CDC_MASK = 64  # boundary when window hash % 64 == 0 -> ~64-byte chunks


def _cdc_byte_duck(h: str, pos: str) -> str:
    return (
        f"((strpos('0123456789ABCDEF', substr({h}, 2*({pos}) - 1, 1)) - 1)"
        f" * 16 + strpos('0123456789ABCDEF', substr({h}, 2*({pos}), 1)) - 1)"
    )


def _cdc_byte_spark(h: str, pos: str) -> str:
    return f"CAST(conv(substr({h}, 2*({pos}) - 1, 2), 16, 10) AS BIGINT)"


def _cdc_hash(byte_fn, h: str, i: str) -> str:
    terms = " + ".join(
        f"({byte_fn(h, f'{i} - {k}')}) * {_CDC_P ** k}"
        for k in range(_CDC_W)
    )
    return f"({terms})"


def _cdc_oracle() -> str:
    wh = _cdc_hash(_cdc_byte_duck, "p.h", "p.i")
    return f"""
    WITH pay AS (
      SELECT doc_id, hex(encode(text)) AS h,
             octet_length(encode(text)) AS n
      FROM documents
    ),
    pos AS (
      SELECT doc_id, h, n, unnest(range({_CDC_W}, n)) AS i FROM pay
    ),
    bounds AS (
      SELECT doc_id, h, n, CAST(i AS BIGINT) AS b
      FROM pos p WHERE ({wh}) % {_CDC_MASK} = 0
      UNION ALL
      SELECT doc_id, h, n, CAST(n AS BIGINT) FROM pay
    ),
    chunks AS (
      SELECT doc_id,
             coalesce(lag(b) OVER (PARTITION BY doc_id ORDER BY b), 0)
               AS start,
             b - coalesce(lag(b) OVER (PARTITION BY doc_id ORDER BY b), 0)
               AS len,
             md5(substr(h,
                 2 * coalesce(lag(b) OVER (PARTITION BY doc_id ORDER BY b),
                              0) + 1,
                 2 * (b - coalesce(lag(b) OVER (PARTITION BY doc_id
                                                ORDER BY b), 0))))
               AS digest
      FROM bounds
    ),
    stats AS (
      SELECT (len // 16) * 16 AS len_bucket,
             count(*) AS n_chunks,
             count(DISTINCT digest) AS n_unique,
             CAST(sum(len) AS BIGINT) AS total_bytes
      FROM chunks GROUP BY 1
    )
    SELECT CAST(len_bucket AS BIGINT) AS len_bucket,
           CAST(n_chunks AS BIGINT) AS n_chunks,
           CAST(n_unique AS BIGINT) AS n_unique,
           total_bytes,
           CAST(ROUND(CAST(CAST(n_chunks - n_unique AS DOUBLE) / n_chunks
                           AS DECIMAL(27,12)), 6) AS DOUBLE)
             AS dup_chunk_rate
    FROM stats
    """


@register(
    "multimodal_cdc_chunking",
    oracle=_cdc_oracle(),
    description=f"Content-defined chunking of binary payloads (the "
    f"restic/LBFS blob-dedup tier): a boundary falls after byte i when "
    f"the {_CDC_W}-byte trailing-window polynomial hash (base {_CDC_P}, "
    f"int64-exact) is 0 mod {_CDC_MASK} (~{_CDC_MASK}-byte chunks), so "
    "chunking is edit-local — the property fixed-size blocks lack. "
    "Chunk fingerprints are md5 over the payload hex substring; the "
    "report buckets chunks by 16-byte length bands with dedup counts. "
    "Position explode is a narrow map (one row per byte, the "
    "audio-features shape); per-doc boundary windows are payload-"
    "bounded; the dedup aggregate is one grouped digest count. "
    "Edit-locality is pinned by tests/test_r3_session3.py.",
    tags=("multimodal", "dedup", "cdc", "chunking", "llm-pipeline"),
)
def multimodal_cdc_chunking(spark, sf_dir):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from datalakes_and_data_integration_spark.plans._util import spread

    d = spread(T(spark, sf_dir, "documents"), spark)
    pay = d.select(
        "doc_id",
        F.expr("hex(encode(text, 'UTF-8'))").alias("h"),
        F.expr("octet_length(encode(text, 'UTF-8'))").alias("n"),
    )
    wh = _cdc_hash(_cdc_byte_spark, "h", "i")
    hash_bounds = (
        pay.select(
            "doc_id",
            "h",
            # sequence(a, b) DESCENDS when b < a (BPE hazard, NOTES.md)
            # — guard payloads shorter than the window.
            F.explode(
                F.expr(
                    f"CASE WHEN n > {_CDC_W} THEN sequence({_CDC_W}, n - 1) "
                    "ELSE CAST(array() AS ARRAY<INT>) END"
                )
            ).alias("i"),
        )
        .filter(F.expr(f"({wh}) % {_CDC_MASK} = 0"))
        .select("doc_id", "h", F.col("i").cast("long").alias("b"))
    )
    bounds = hash_bounds.unionByName(
        pay.select("doc_id", "h", F.col("n").cast("long").alias("b"))
    )
    w = Window.partitionBy("doc_id").orderBy("b")
    start = F.coalesce(F.lag("b").over(w), F.lit(0))
    chunks = bounds.select(
        "doc_id",
        start.alias("start"),
        (F.col("b") - start).alias("len"),
        F.md5(
            F.expr(
                "substr(h, 2 * coalesce(lag(b) OVER (PARTITION BY doc_id "
                "ORDER BY b), 0) + 1, 2 * (b - coalesce(lag(b) OVER "
                "(PARTITION BY doc_id ORDER BY b), 0)))"
            )
        ).alias("digest"),
    )
    stats = chunks.groupBy(
        ((F.col("len").cast("long") / 16).cast("long") * 16).alias(
            "len_bucket"
        )
    ).agg(
        F.count("*").alias("n_chunks"),
        F.countDistinct("digest").alias("n_unique"),
        F.sum("len").cast("long").alias("total_bytes"),
    )
    return stats.select(
        "len_bucket",
        "n_chunks",
        "n_unique",
        "total_bytes",
        r6(
            (F.col("n_chunks") - F.col("n_unique")).cast("double")
            / F.col("n_chunks")
        ).alias("dup_chunk_rate"),
    )


# ---------------------------------------------------------------------------
# Cross-video keyframe near-dup: the video tier of the multimodal dedup
# ladder. Production video dedup hashes SAMPLED KEYFRAMES, not whole
# payloads — re-encoded/trimmed copies keep most frames while the
# container bytes (and the whole-payload pHash) change completely. This
# composes the two stubbed primitives: sample_frames' slicing + the
# block-mean pHash per frame (operators.multimodal.frame_phash), then
# the same 3-band pigeonhole candidate join as the payload tier, and a
# video-level verdict: a pair is near-dup when >= 2 frame pairs match at
# hamming <= 2. Only frame hashes shuffle, never payloads; candidates
# are band-bucket-bounded. Swap the slice for codec keyframe grabs and
# the pipeline is real video dedup at 100 TB.
# ---------------------------------------------------------------------------

_KF_MIN_MATCHES = 2  # frame pairs required for a video-level near-dup


def _keyframe_oracle() -> str:
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, frame_idx, phash, {i} AS band,"
        f" CAST({expr} AS BIGINT) AS bv FROM ph"
        for expr, i in _PH_BANDS_SQL
    )
    return f"""
    WITH pay AS (
      SELECT doc_id, hex(encode(text)) AS h,
             octet_length(encode(text)) AS n
      FROM documents WHERE doc_id % 3 = 2
    ),
    frames AS (
      SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
             substr(h, 2 * (i * (n // 3)) + 1, 64) AS fh
      FROM pay, unnest([0, 1, 2]) AS t(i)
    ),
    fb AS (
      SELECT doc_id, frame_idx, fh, length(fh) // 2 AS fn
      FROM frames WHERE length(fh) >= 2
    ),
    pos AS (
      SELECT doc_id, frame_idx, fn, fh, unnest(range(1, fn + 1)) AS j
      FROM fb
    ),
    bytes AS (
      SELECT doc_id, frame_idx, fn, ((j - 1) * 20) // fn AS blk,
             (strpos('0123456789ABCDEF', substr(fh, 2*j - 1, 1)) - 1) * 16
             + (strpos('0123456789ABCDEF', substr(fh, 2*j, 1)) - 1) AS b
      FROM pos
    ),
    blocks AS (
      SELECT f.doc_id, f.frame_idx, f.fn, g.blk,
             CAST(coalesce(s.sb, 0) AS BIGINT) AS sb,
             CAST(coalesce(s.nb, 0) AS BIGINT) AS nb
      FROM fb f CROSS JOIN (SELECT unnest(range(20)) AS blk) g
      LEFT JOIN (
        SELECT doc_id, frame_idx, blk, sum(b) AS sb, count(*) AS nb
        FROM bytes GROUP BY doc_id, frame_idx, blk
      ) s ON s.doc_id = f.doc_id AND s.frame_idx = f.frame_idx
         AND s.blk = g.blk
    ),
    tot AS (
      SELECT doc_id, frame_idx, CAST(sum(sb) AS BIGINT) AS total
      FROM blocks GROUP BY doc_id, frame_idx
    ),
    ph AS (
      SELECT b.doc_id, b.frame_idx,
             CAST(sum(CASE WHEN b.sb * b.fn > t.total * b.nb
                           THEN 1 << b.blk ELSE 0 END) AS BIGINT) AS phash
      FROM blocks b
      JOIN tot t ON t.doc_id = b.doc_id AND t.frame_idx = b.frame_idx
      GROUP BY b.doc_id, b.frame_idx
    ),
    bands AS ({band_rows}),
    cand AS (
      SELECT DISTINCT a.doc_id AS vid_a, a.frame_idx AS fa,
                      a.phash AS pa, b.doc_id AS vid_b,
                      b.frame_idx AS fbi, b.phash AS pb
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT vid_a, vid_b,
             CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming
      FROM cand WHERE bit_count(xor(pa, pb)) <= 2
    )
    SELECT vid_a, vid_b,
           CAST(count(*) AS BIGINT) AS n_frame_pairs,
           CAST(min(hamming) AS BIGINT) AS min_hamming,
           count(*) >= {_KF_MIN_MATCHES} AS is_near_dup
    FROM verified GROUP BY vid_a, vid_b
    """


@register(
    "multimodal_keyframe_phash_dedup",
    oracle=_keyframe_oracle(),
    description="Cross-video keyframe near-dup: 3 evenly spaced 32-byte "
    "frame slices per video payload (the sample_frames stub shape), a "
    "20-bit block-mean pHash per FRAME via row-expanding mapInPandas, "
    "exact hamming<=2 frame pairs via the 3-band (7/7/6-bit) pigeonhole "
    "join, aggregated to a video-level verdict (near-dup when >= "
    f"{_KF_MIN_MATCHES} frame pairs match) — the production video-dedup "
    "shape: re-encoded or trimmed copies keep their frames while the "
    "container bytes (and any whole-payload hash) diverge. Only frame "
    "hashes shuffle; candidates are band-bucket-bounded; a real codec "
    "swaps into the frame grab with the pipeline unchanged.",
    tags=("multimodal", "dedup", "pandas-udf", "phash", "video",
          "llm-pipeline"),
)
def multimodal_keyframe_phash_dedup(spark, sf_dir):
    from pyspark.sql import functions as F

    from datalakes_and_data_integration_spark.operators.multimodal import (
        frame_phash,
    )
    from datalakes_and_data_integration_spark.plans._util import spread

    d = spread(T(spark, sf_dir, "documents"), spark).filter(
        F.col("doc_id") % 3 == 2
    )
    ph = frame_phash(attach_payload(d)).persist()  # both join sides
    bands = ph.select(
        "doc_id",
        "frame_idx",
        "phash",
        F.posexplode(
            F.array(
                F.expr("phash & 127"),
                F.expr("shiftright(phash, 7) & 127"),
                F.expr("shiftright(phash, 14) & 63"),
            )
        ).alias("band", "bv"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("vid_a"),
            F.col("a.frame_idx").alias("fa"),
            F.col("a.phash").alias("pa"),
            F.col("b.doc_id").alias("vid_b"),
            F.col("b.frame_idx").alias("fbi"),
            F.col("b.phash").alias("pb"),
        )
        .distinct()
    )
    ham = F.expr("bit_count(pa ^ pb)")
    verified = cand.select(
        "vid_a", "vid_b", ham.cast("long").alias("hamming")
    ).filter(F.col("hamming") <= 2)
    return verified.groupBy("vid_a", "vid_b").agg(
        F.count("*").cast("long").alias("n_frame_pairs"),
        F.min("hamming").cast("long").alias("min_hamming"),
        (F.count("*") >= _KF_MIN_MATCHES).alias("is_near_dup"),
    )
