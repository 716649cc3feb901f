"""Multimodal column plumbing (training-data pipeline extension).

Images/audio/video are carried as opaque ``binary`` columns with a
typed metadata struct. The Spark-side plumbing — schema, partitioning,
Arrow-batched UDF signatures, batch shapes — is real and tested.
Decode status by format class: UNCOMPRESSED rasters are decoded FOR
REAL (``decode_ppm`` parses binary-PPM headers + rasters with
stdlib+numpy; ``mm_image_decode_stats`` runs it end-to-end under a
closed-form DuckDB oracle); codec-dependent formats (JPEG/PNG/audio/
video) are STUBBED because no codec library ships in this environment:
``decode_image_stub`` raises NotImplementedError unless
``deterministic_fake=True``, which produces a seeded fake feature
vector so the pipeline shape can be exercised end-to-end. Container
TYPE detection needs no decode at all — ``sniff_mime`` classifies
magic bytes as a pure column expression.

At 100 TB: binary payloads stay columnar in parquet, metadata columns
allow predicate pushdown (e.g. filter by mime/width) without touching
bytes; mapInPandas streams Arrow batches so decode memory is bounded
by batch size, not partition size.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..sources.parquet import fan_out, load_table
from .similarity import ORACLE_SQL as _SIM_ORACLE
from .similarity import N_PROBE, _duck_ivf_topk, ann_cosine_topk, ann_ivf_topk

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("mime", StringType(), True),
        StructField("payload", BinaryType(), True),
        StructField("n_bytes", LongType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("mime", StringType(), True),
        StructField("n_bytes", LongType(), True),
        # double, not float32: the moments are SQL-recomputable and
        # float32 would shift round()-boundary values vs the oracle
        StructField("features", ArrayType(DoubleType()), True),
    ]
)


def documents_as_media(spark, sf_dir) -> DataFrame:
    """Synthesize a media table from documents: utf-8 payload bytes +
    metadata. Stands in for an image/audio table with the same shape."""
    # fan_out: mapInPandas decode/feature batches single-thread on a
    # one-row-group scan otherwise
    d = fan_out(spark, load_table(spark, sf_dir, "documents"))
    # single-rowgroup local file -> 1 scan task; spread rows so the
    # Arrow-batched Python stages downstream use every core
    target = spark.sparkContext.defaultParallelism
    if d.rdd.getNumPartitions() < target // 2:
        d = d.repartition(target)
    payload = F.encode("text", "utf-8")
    return d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("text/plain").alias("mime"),
        payload.alias("payload"),
        F.length(payload).cast("bigint").alias("n_bytes"),
    )


def decode_image_stub(payload: bytes, deterministic_fake: bool = False) -> list[float]:
    """STUB: real decode needs PIL/ffmpeg (not in this container)."""
    if not deterministic_fake:
        raise NotImplementedError(
            "media decode requires codec libraries not present in this "
            "environment; pass deterministic_fake=True for pipeline tests"
        )
    # seeded fake: 4 moments of the byte distribution, float32
    if payload is None or len(payload) == 0:
        return [0.0, 0.0, 0.0, 0.0]
    n = len(payload)
    mean = sum(payload) / n
    mn, mx = float(min(payload)), float(max(payload))
    return [float(n), float(mean), mn, mx]


def extract_features(df: DataFrame, batch_hint: int = 1024) -> DataFrame:
    """mapInPandas feature extraction over binary payloads — the real
    decode would swap into _decode; Arrow batches bound memory."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                decode_image_stub(p, deterministic_fake=True)
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": pdf["mime"],
                    "n_bytes": pdf["n_bytes"],
                    "features": feats,
                }
            )

    return df.mapInPandas(_extract, schema=FEATURE_SCHEMA)


def resize_stub(df: DataFrame, width: int = 224, height: int = 224) -> DataFrame:
    """Resize plumbing: mapInPandas pass that would decode -> resize ->
    re-encode. STUB keeps the byte payload and stamps the target
    dimensions into metadata; the Arrow batch shape, schema, and
    partition behavior are exactly what a PIL/opencv implementation
    would use."""
    out_schema = StructType(
        MEDIA_SCHEMA.fields
        + [StructField("width", LongType(), True), StructField("height", LongType(), True)]
    )

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            # real impl: pdf["payload"] = [reencode(resize(decode(p))) ...]
            pdf["width"] = width
            pdf["height"] = height
            yield pdf

    return df.mapInPandas(_resize, schema=out_schema)


def frame_sample_stub(df: DataFrame, every_n_bytes: int = 256,
                      max_frames: int = 8) -> DataFrame:
    """Frame-sampling plumbing for video-like payloads: one output row
    per sampled frame (explode-shaped mapInPandas). STUB samples fixed
    byte offsets instead of decoded frames; the fan-out shape (row ->
    N frame rows with frame_no + frame_payload) matches an ffmpeg
    keyframe sampler."""
    out_schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("frame_no", LongType(), False),
            StructField("frame_payload", BinaryType(), True),
        ]
    )

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, frame_nos, payloads = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                for i, off in enumerate(range(0, len(payload), every_n_bytes)):
                    if i >= max_frames:
                        break
                    ids.append(mid)
                    frame_nos.append(i)
                    payloads.append(bytes(payload[off:off + every_n_bytes]))
            yield pd.DataFrame(
                {"media_id": ids, "frame_no": frame_nos, "frame_payload": payloads}
            )

    return df.mapInPandas(_sample, schema=out_schema)


def mm_feature_extract(spark, sf_dir):
    """Oracle-checked slice of the Arrow-batched extract path: the fake
    feature vector's length/mean components are recomputable in SQL, so
    the full mapInPandas plumbing is verified end-to-end."""
    media = documents_as_media(spark, sf_dir)
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "n_bytes",
        F.element_at("features", 1).cast("double").alias("feat_len"),
        F.round(F.element_at("features", 2).cast("double"), 3).alias("feat_mean"),
    )


def mm_frame_sample_counts(spark, sf_dir):
    """Oracle-checked frame-sampling fan-out: frames per document =
    ceil(bytes/256) capped at 8; total sampled bytes recomputable."""
    media = documents_as_media(spark, sf_dir)
    frames = frame_sample_stub(media)
    return frames.groupBy("media_id").agg(
        F.count("*").alias("n_frames"),
        F.sum(F.length("frame_payload")).alias("sampled_bytes"),
        F.max("frame_no").alias("last_frame"),
    )


def mm_binary_stats(spark, sf_dir):
    """Oracle-checked metadata query over the binary column: byte
    lengths computed without leaving the JVM (no decode)."""
    media = documents_as_media(spark, sf_dir)
    return media.groupBy("mime").agg(
        F.count("*").alias("n_items"),
        F.sum("n_bytes").alias("total_bytes"),
        F.max("n_bytes").alias("max_bytes"),
    )


def mm_payload_dedup(spark, sf_dir):
    """Exact binary dedup: canonical (lowest) media_id per identical
    payload + duplicate count — the first pass of any multimodal
    training-data pipeline (identical images/clips re-crawled under
    different ids).

    Scale shape: the shuffle key is (sha2-256(payload), n_bytes) — a
    40-byte digest per row instead of the payload itself; at 100 TB the
    media bytes never cross an exchange. The oracle groups on raw
    payload equality, so any digest collision would surface as a
    driver hash-mismatch (2^-128 odds)."""
    media = documents_as_media(spark, sf_dir)
    return (
        media.select(
            F.sha2("payload", 256).alias("_digest"),
            "n_bytes",
            "media_id",
        )
        .groupBy("_digest", "n_bytes")
        .agg(
            F.min("media_id").alias("media_id"),
            F.count("*").alias("dup_count"),
        )
        .select("media_id", "n_bytes", "dup_count")
    )


# (generation) hex header prepended by doc_id % len — single source of
# truth shared with the oracle's payload CONSTRUCTION; the sniffing
# logic below is written independently on each engine, so a detection
# bug on either side breaks parity rather than hiding in shared code.
MAGIC_HEADERS = [
    "FFD8FFE000104A464946",          # JPEG/JFIF
    "89504E470D0A1A0A",              # PNG
    "474946383961",                  # GIF89a
    "52494646AABBCCDD57415645",      # RIFF <size> WAVE
    "255044462D312E37",              # %PDF-1.7
    "1F8B08",                        # gzip (deflate)
    "",                              # bare text payload
]


def documents_as_mixed_media(spark, sf_dir) -> DataFrame:
    """Media table with REAL container signatures: each document's
    payload gets a magic-byte header chosen by doc_id % 7 (one slot is
    bare text). Exercises binary-column operators against byte patterns
    an actual crawl exhibits — JPEG/PNG/GIF/WAV/PDF/gzip framing —
    without needing codec libraries."""
    media = documents_as_media(spark, sf_dir)
    sel = F.col("media_id") % len(MAGIC_HEADERS)
    header = F.lit(b"")
    for i, hx in enumerate(MAGIC_HEADERS):
        if hx:
            header = F.when(sel == i, F.lit(bytes.fromhex(hx))).otherwise(header)
    payload = F.concat(header, F.col("payload"))
    return media.select(
        "media_id",
        payload.alias("payload"),
        F.length(payload).cast("bigint").alias("n_bytes"),
    )


def sniff_mime(payload):
    """Magic-byte container sniffing as a pure column expression (JVM
    whole-stage codegen; the payload never reaches Python). Only the
    first 16 bytes are hexed — at 100 TB the scan reads payload pages
    but the sniff itself touches a constant-size prefix per row."""
    h = F.hex(F.substring(payload, 1, 16))
    return (
        F.when(h.startswith("FFD8FF"), "image/jpeg")
        .when(h.startswith("89504E470D0A1A0A"), "image/png")
        .when(h.startswith("474946383761") | h.startswith("474946383961"),
              "image/gif")
        .when(h.startswith("52494646")
              & (F.substring(h, 17, 8) == "57415645"), "audio/wav")
        .when(h.startswith("25504446"), "application/pdf")
        .when(h.startswith("1F8B"), "application/gzip")
        .otherwise("text/plain")
    )


def mm_magic_byte_census(spark, sf_dir):
    """Container census over a mixed-signature binary column: sniff the
    mime from magic bytes, then per-container item/byte stats — the
    first triage query over any crawled media dump (what formats, how
    much of each, size envelope). The DuckDB oracle constructs the same
    payloads from the shared MAGIC_HEADERS table but re-implements the
    sniffing independently over hex strings."""
    media = documents_as_mixed_media(spark, sf_dir)
    return (
        media.select(sniff_mime(F.col("payload")).alias("sniffed_mime"),
                     "n_bytes")
        .groupBy("sniffed_mime")
        .agg(
            F.count("*").alias("n_items"),
            F.sum("n_bytes").alias("total_bytes"),
            F.min("n_bytes").alias("min_bytes"),
            F.max("n_bytes").alias("max_bytes"),
        )
    )


_LN2 = 0.6931471805599453  # same double literal on both engines


def mm_byte_entropy(spark, sf_dir):
    """Per-payload byte-histogram Shannon entropy (bits/byte) — the
    standard already-compressed/encrypted detector for binary columns
    (gzip/jpeg payloads sit near 8, text near 4-5; a dedup or decode
    stage gates on it). Entirely JVM-side: ISO-8859-1 decode maps bytes
    1:1 to chars, explode -> (media, byte) counts -> entropy from
    integer counts via H = (ln n - (Σ c·ln c)/n) / ln 2. Per-term
    contributions are floor-quantized to bigint before the SUM so the
    aggregate is order-free (the house determinism discipline); ln 2 is
    a shared literal, not each engine's log(2). Oracle counts chars of
    the ASCII source text (byte == codepoint — same precondition
    mm_feature_extract documents). At 100 TB the explode is
    bytes-as-rows but map-side partial aggregation collapses each
    payload to ≤256 rows before any exchange."""
    media = documents_as_media(spark, sf_dir)
    chars = media.select(
        "media_id",
        F.explode(F.split(F.decode("payload", "ISO-8859-1"), "")).alias("ch"),
    ).where(F.col("ch") != "")
    counts = chars.groupBy("media_id", "ch").agg(F.count("*").alias("c"))
    q = F.floor(F.col("c") * F.log(F.col("c").cast("double")) * 1e9).cast("bigint")
    per = counts.groupBy("media_id").agg(
        F.sum("c").alias("n_bytes"),
        F.count("*").alias("distinct_bytes"),
        F.sum(q).alias("qs"),
    )
    entropy = (
        F.log(F.col("n_bytes").cast("double"))
        - (F.col("qs") / F.lit(1e9)) / F.col("n_bytes")
    ) / F.lit(_LN2)
    return per.select(
        "media_id", "n_bytes", "distinct_bytes",
        F.round(entropy, 6).alias("entropy_bits"),
    )


ORACLE_SQL = {
    "mm_payload_dedup": """
        SELECT min(doc_id) AS media_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               count(*) AS dup_count
        FROM documents
        GROUP BY text
    """,
    "mm_binary_stats": """
        SELECT 'text/plain' AS mime,
               count(*) AS n_items,
               CAST(sum(CAST(octet_length(encode(text)) AS BIGINT)) AS BIGINT)
                   AS total_bytes,
               max(CAST(octet_length(encode(text)) AS BIGINT)) AS max_bytes
        FROM documents
    """,
    # the testdata text is pure ASCII (verified), so utf-8 byte values
    # equal codepoints and the fake features are SQL-recomputable
    "mm_feature_extract": """
        SELECT doc_id AS media_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               CAST(octet_length(encode(text)) AS DOUBLE) AS feat_len,
               round(list_aggregate(
                   list_transform(string_split(text, ''),
                                  c -> CAST(ord(c) AS DOUBLE)), 'avg'), 3)
                   AS feat_mean
        FROM documents
    """,
    "mm_frame_sample_counts": """
        SELECT doc_id AS media_id,
               CAST(least(ceil(octet_length(encode(text)) / 256.0), 8) AS BIGINT)
                   AS n_frames,
               CAST(least(octet_length(encode(text)), 8 * 256) AS BIGINT)
                   AS sampled_bytes,
               CAST(least(ceil(octet_length(encode(text)) / 256.0), 8) - 1 AS BIGINT)
                   AS last_frame
        FROM documents
        WHERE octet_length(encode(text)) > 0
    """,
}

def decode_ppm(payload: bytes) -> dict:
    """REAL image decode for binary PPM (P6) — header parse + raster
    stats with nothing but stdlib + numpy (PPM is uncompressed, so no
    codec library is needed; this is the one raster format this
    environment can decode for real — compressed formats stay behind
    decode_image_stub). Raises ValueError on non-PPM bytes."""
    import re

    import numpy as np

    if payload is None:
        raise ValueError("empty payload")
    m = re.match(rb"P6\s+(\d+)\s+(\d+)\s+(\d+)\s", bytes(payload))
    if not m:
        raise ValueError("not a binary PPM (P6) payload")
    width, height, maxval = (int(m.group(i)) for i in (1, 2, 3))
    if maxval != 255:
        raise ValueError("only 8-bit PPM supported")
    n = width * height * 3
    try:
        raster = np.frombuffer(bytes(payload), dtype=np.uint8,
                               count=n, offset=m.end())
    except ValueError as exc:
        raise ValueError(f"truncated raster: {exc}") from exc
    total = int(raster.sum())
    return {
        "width": width,
        "height": height,
        "n_pixels": width * height,
        "sum_bytes": total,
        "mean_milli": total * 1000 // n,
        "min_byte": int(raster.min()),
        "max_byte": int(raster.max()),
    }


_PPM_STATS_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("width", LongType(), True),
    StructField("height", LongType(), True),
    StructField("n_pixels", LongType(), True),
    StructField("sum_bytes", LongType(), True),
    StructField("mean_milli", LongType(), True),
    StructField("min_byte", LongType(), True),
    StructField("max_byte", LongType(), True),
])


def _ppm_bytes(doc_id: int) -> bytes:
    """Deterministic synthetic image: width 4+id%5, height 4+id%3,
    raster byte k (1-indexed) = (id*k) % 256 — closed form the DuckDB
    oracle recomputes without decoding, so a decoder bug (wrong header
    offset, wrong raster length) breaks parity."""
    w, h = 4 + doc_id % 5, 4 + doc_id % 3
    raster = bytes((doc_id * k) % 256 for k in range(1, w * h * 3 + 1))
    return b"P6\n%d %d\n255\n" % (w, h) + raster


def documents_as_ppm_images(spark, sf_dir) -> DataFrame:
    """One synthetic PPM image per document id (Arrow-batched synth —
    the fixture generator; the DECODER under test sees only bytes)."""
    return _payload_table(_media_ids(spark, sf_dir), _ppm_bytes)


def mm_image_decode_stats(spark, sf_dir):
    """End-to-end REAL image decode over a binary column: parse each
    PPM payload's header, read its raster, emit integer pixel stats.
    All-integer outputs, so the derived oracle (closed-form pixel rule)
    is exact. mapInPandas streams Arrow batches — decode memory is
    bounded by batch size, the 100 TB contract for media columns."""
    imgs = documents_as_ppm_images(spark, sf_dir)

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                out.append({"media_id": mid, **decode_ppm(payload)})
            yield pd.DataFrame(out)

    return imgs.mapInPandas(_decode, schema=_PPM_STATS_SCHEMA)


def decode_wav_pcm(payload: bytes) -> dict:
    """REAL audio decode for RIFF/WAVE PCM — chunk walk + int16 sample
    stats with stdlib struct + numpy (PCM is uncompressed; like
    decode_ppm this needs no codec library). Rejects non-RIFF bytes,
    compressed audio formats, and truncated data chunks."""
    import struct

    import numpy as np

    p = bytes(payload or b"")
    if len(p) < 12 or p[:4] != b"RIFF" or p[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(p):
        cid, size = p[pos:pos + 4], struct.unpack("<I", p[pos + 4:pos + 8])[0]
        body = p[pos + 8:pos + 8 + size]
        if len(body) < size:
            raise ValueError(f"truncated {cid!r} chunk")
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, channels, sample_rate, _, _, bits = fmt
    if audio_format != 1 or bits != 16:
        raise ValueError("only 16-bit PCM supported (no codec libs)")
    samples = np.frombuffer(data, dtype="<i2")
    return {
        "sample_rate": sample_rate,
        "channels": channels,
        "n_samples": samples.size // channels,
        "sum_s": int(samples.astype(np.int64).sum()),
        "sum_abs": int(np.abs(samples.astype(np.int64)).sum()),
        "min_s": int(samples.min()),
        "max_s": int(samples.max()),
    }


_WAV_STATS_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("sample_rate", LongType(), True),
    StructField("channels", LongType(), True),
    StructField("n_samples", LongType(), True),
    StructField("sum_s", LongType(), True),
    StructField("sum_abs", LongType(), True),
    StructField("min_s", LongType(), True),
    StructField("max_s", LongType(), True),
])


def _wav_bytes(doc_id: int) -> bytes:
    """Deterministic mono 16-bit PCM WAV: 50 + id%50 samples, sample k
    (1-indexed) = (id*37*k) % 65536 - 32768 — closed form for the
    DuckDB oracle."""
    import struct

    n = 50 + doc_id % 50
    data = b"".join(
        struct.pack("<h", (doc_id * 37 * k) % 65536 - 32768)
        for k in range(1, n + 1)
    )
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt \
        + b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _media_ids(spark, sf_dir) -> DataFrame:
    ids = fan_out(spark, load_table(spark, sf_dir, "documents")).select(
        F.col("doc_id").alias("media_id"))
    target = spark.sparkContext.defaultParallelism
    if ids.rdd.getNumPartitions() < target // 2:
        ids = ids.repartition(target)
    return ids


_MEDIA_PAYLOAD_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("payload", BinaryType(), True),
])


def _payload_table(ids: DataFrame, make_bytes) -> DataFrame:
    """Synthesize a (media_id, payload binary) table — a SEPARATE
    Arrow-batched stage from the decoder, so the registry entries
    exercise real bytes flowing through a DataFrame binary column
    (schema, Arrow binary transfer, partitioning) rather than a Python
    synth->decode shortcut inside one function."""

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "payload": [make_bytes(int(i)) for i in pdf["media_id"]],
            })

    return ids.mapInPandas(_synth, schema=_MEDIA_PAYLOAD_SCHEMA)


def mm_audio_decode_stats(spark, sf_dir):
    """End-to-end REAL audio decode over a binary column: walk each
    WAV payload's RIFF chunks, read the int16 PCM raster, emit integer
    sample stats (sum / abs-sum / extrema — the RMS and clipping
    inputs). All-integer outputs; the derived oracle recomputes them
    from the generation rule, so a chunk-walk or byte-order bug breaks
    the hash. Synth and decode are separate mapInPandas stages: the
    decoder consumes bytes from a real binary column."""
    clips = _payload_table(_media_ids(spark, sf_dir), _wav_bytes)

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                out.append({"media_id": mid, **decode_wav_pcm(payload)})
            yield pd.DataFrame(out)

    return clips.mapInPandas(_decode, schema=_WAV_STATS_SCHEMA)


def sample_y4m_frames(payload: bytes, every_n: int = 2) -> list:
    """REAL video frame sampling for Y4M (YUV4MPEG2) — the uncompressed
    video container: parse the stream header (W/H/C tags), walk the
    FRAME markers, and emit luma-plane stats for every ``every_n``-th
    frame. stdlib-only; C444 streams (full-res Y,U,V planes). This is
    the real counterpart of frame_sample_stub's byte-offset fake: the
    sampler must honor actual frame boundaries or the stats shift."""
    p = bytes(payload or b"")
    nl = p.find(b"\n")
    if nl < 0 or not p.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 stream")
    w = h = None
    colorspace = "C420"
    for tag in p[:nl].split(b" ")[1:]:
        if tag[:1] == b"W":
            w = int(tag[1:])
        elif tag[:1] == b"H":
            h = int(tag[1:])
        elif tag[:1] == b"C":
            colorspace = tag.decode()
    if not w or not h:
        raise ValueError("missing W/H in stream header")
    if colorspace != "C444":
        raise ValueError("only C444 supported (no resampling libs)")
    frame_bytes = 3 * w * h
    rows, pos, frame_no = [], nl + 1, 0
    while pos < len(p):
        fnl = p.find(b"\n", pos)
        if fnl < 0 or p[pos:pos + 5] != b"FRAME":
            raise ValueError(f"bad FRAME marker at offset {pos}")
        body = p[fnl + 1:fnl + 1 + frame_bytes]
        if len(body) < frame_bytes:
            raise ValueError(f"truncated frame {frame_no}")
        if frame_no % every_n == 0:
            luma = body[: w * h]
            rows.append({"frame_no": frame_no, "y_sum": sum(luma),
                         "y_min": min(luma), "y_max": max(luma)})
        pos = fnl + 1 + frame_bytes
        frame_no += 1
    return rows


_Y4M_STATS_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("frame_no", LongType(), False),
    StructField("y_sum", LongType(), True),
    StructField("y_min", LongType(), True),
    StructField("y_max", LongType(), True),
])


def _y4m_bytes(doc_id: int) -> bytes:
    """Deterministic C444 clip: 4 x (2+id%3), 2+id%5 frames, frame f
    byte k (1-indexed over all 3 planes) = (id + 31*f + k) % 256."""
    w, h, nf = 4, 2 + doc_id % 3, 2 + doc_id % 5
    out = [b"YUV4MPEG2 W%d H%d F25:1 Ip A1:1 C444\n" % (w, h)]
    for f in range(nf):
        out.append(b"FRAME\n")
        out.append(bytes((doc_id + 31 * f + k) % 256
                         for k in range(1, 3 * w * h + 1)))
    return b"".join(out)


def mm_video_frame_stats(spark, sf_dir):
    """End-to-end REAL video frame sampling over a binary column: walk
    each Y4M payload's frame markers, keep every 2nd frame, emit
    integer luma stats per sampled frame (the shot-boundary /
    brightness inputs). One output row per sampled frame — the
    explode-shaped fan-out a keyframe sampler produces. All-integer;
    the derived oracle recomputes from the generation rule, so a frame
    -boundary bug breaks the hash. Synth and sampling are separate
    mapInPandas stages: the sampler consumes bytes from a real binary
    column."""
    clips = _payload_table(_media_ids(spark, sf_dir), _y4m_bytes)

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                for row in sample_y4m_frames(payload):
                    out.append({"media_id": mid, **row})
            yield pd.DataFrame(out, columns=["media_id", "frame_no",
                                             "y_sum", "y_min", "y_max"])

    return clips.mapInPandas(_sample, schema=_Y4M_STATS_SCHEMA)


_hdr_cases = "\n                   ".join(
    f"WHEN {i} THEN '{hx}'" for i, hx in enumerate(MAGIC_HEADERS) if hx
)
ORACLE_SQL["mm_magic_byte_census"] = f"""
    WITH payloads AS (
        SELECT CASE doc_id % {len(MAGIC_HEADERS)}
                   {_hdr_cases}
                   ELSE '' END || hex(encode(text)) AS h
        FROM documents
    ), sniffed AS (
        SELECT CASE
                 WHEN starts_with(h, 'FFD8FF') THEN 'image/jpeg'
                 WHEN starts_with(h, '89504E470D0A1A0A') THEN 'image/png'
                 WHEN starts_with(h, '474946383761')
                      OR starts_with(h, '474946383961') THEN 'image/gif'
                 WHEN starts_with(h, '52494646')
                      AND substring(h, 17, 8) = '57415645' THEN 'audio/wav'
                 WHEN starts_with(h, '25504446') THEN 'application/pdf'
                 WHEN starts_with(h, '1F8B') THEN 'application/gzip'
                 ELSE 'text/plain' END AS sniffed_mime,
               CAST(length(h) // 2 AS BIGINT) AS n_bytes
        FROM payloads
    )
    SELECT sniffed_mime,
           count(*) AS n_items,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
           min(n_bytes) AS min_bytes,
           max(n_bytes) AS max_bytes
    FROM sniffed
    GROUP BY sniffed_mime
"""

ORACLE_SQL["mm_byte_entropy"] = f"""
    WITH counts AS (
        SELECT doc_id AS media_id, ch, count(*) AS c
        FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch
              FROM documents)
        WHERE ch <> ''
        GROUP BY 1, 2
    )
    SELECT media_id,
           CAST(sum(c) AS BIGINT) AS n_bytes,
           CAST(count(*) AS BIGINT) AS distinct_bytes,
           round((ln(CAST(sum(c) AS DOUBLE))
                  - (CAST(sum(CAST(floor(c * ln(CAST(c AS DOUBLE)) * 1e9)
                                   AS BIGINT)) AS DOUBLE) / 1e9)
                    / CAST(sum(c) AS DOUBLE))
                 / {_LN2!r}, 6) AS entropy_bits
    FROM counts
    GROUP BY media_id
"""

ORACLE_SQL["mm_image_decode_stats"] = """
    WITH dims AS (
        SELECT doc_id, 4 + doc_id % 5 AS width, 4 + doc_id % 3 AS height
        FROM documents
    ), px AS (
        SELECT doc_id, width, height, (doc_id * k.range) % 256 AS b
        FROM dims CROSS JOIN range(1, 145) k
        WHERE k.range <= width * height * 3
    )
    SELECT doc_id AS media_id,
           CAST(width AS BIGINT) AS width,
           CAST(height AS BIGINT) AS height,
           CAST(width * height AS BIGINT) AS n_pixels,
           CAST(sum(b) AS BIGINT) AS sum_bytes,
           CAST(sum(b) * 1000 // (width * height * 3) AS BIGINT) AS mean_milli,
           CAST(min(b) AS BIGINT) AS min_byte,
           CAST(max(b) AS BIGINT) AS max_byte
    FROM px
    GROUP BY doc_id, width, height
"""

ORACLE_SQL["mm_audio_decode_stats"] = """
    WITH dims AS (
        SELECT doc_id, 50 + doc_id % 50 AS n FROM documents
    ), s AS (
        SELECT doc_id, n, (doc_id * 37 * k.range) % 65536 - 32768 AS v
        FROM dims CROSS JOIN range(1, 100) k
        WHERE k.range <= n
    )
    SELECT doc_id AS media_id,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(1 AS BIGINT) AS channels,
           CAST(n AS BIGINT) AS n_samples,
           CAST(sum(v) AS BIGINT) AS sum_s,
           CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
           CAST(min(v) AS BIGINT) AS min_s,
           CAST(max(v) AS BIGINT) AS max_s
    FROM s
    GROUP BY doc_id, n
"""

ORACLE_SQL["mm_video_frame_stats"] = """
    WITH dims AS (
        SELECT doc_id, 4 AS w, 2 + doc_id % 3 AS h, 2 + doc_id % 5 AS nf
        FROM documents
    ), frames AS (
        SELECT doc_id, w, h, f.range AS frame_no
        FROM dims CROSS JOIN range(0, 7) f
        WHERE f.range < nf AND f.range % 2 = 0
    ), px AS (
        SELECT doc_id, frame_no,
               (doc_id + 31 * frame_no + k.range) % 256 AS y
        FROM frames CROSS JOIN range(1, 17) k
        WHERE k.range <= w * h
    )
    SELECT doc_id AS media_id,
           CAST(frame_no AS BIGINT) AS frame_no,
           CAST(sum(y) AS BIGINT) AS y_sum,
           CAST(min(y) AS BIGINT) AS y_min,
           CAST(max(y) AS BIGINT) AS y_max
    FROM px
    GROUP BY doc_id, frame_no
"""

def mm_crossmodal_topk(spark, sf_dir, nprobe: int = N_PROBE):
    """Cross-modal retrieval: embedding query -> nearest MEDIA PAYLOAD
    (VERDICT r10 task 5) — the pair-mining shape a multimodal training
    pipeline needs, joining the two families that never met: the
    IVF-pruned ANN probe (similarity.ann_ivf_topk) and the binary
    payload table (documents_as_media, the mm_payload_dedup frame).
    Each hit carries its payload's sha2-256 digest + byte length (the
    bytes themselves never enter a report frame) and its CANONICAL
    media id — the keep-first representative among ALL media sharing
    that payload (postgres_audit_repository.py:68-70 dedup semantics),
    so a re-crawled duplicate clip retrieves as its canonical.

    Scale shape: the media table is read ONCE — the digest projection
    (media_id, sha2, n_bytes; ~56 bytes/row, orders of magnitude below
    the payload bytes) is localCheckpointed and feeds BOTH consumers
    (hit join + canonical map), so payload bytes are touched in exactly
    one scan. The hit list is queries x k rows — localCheckpointed (it
    feeds two consumers) and BROADCAST into the media join; the
    canonical map is computed only over digest rows semi-joined
    (broadcast again) to the hit digests, then the 40-byte digest keys
    aggregate map-side. At 100 TB: index probe is cell-pruned, media
    side is a bucketed-by-id probe, canonicalization touches only
    digests that actually matched. `nprobe` is the retriever's probe
    width (similarity.ann_ivf_topk)."""
    hits = ann_ivf_topk(spark, sf_dir, nprobe)
    media = documents_as_media(spark, sf_dir).select(
        "media_id",
        F.sha2("payload", 256).alias("payload_sha256"),
        "n_bytes",
    ).localCheckpoint(eager=True)  # one payload scan; both joins read this
    hit_media = (
        F.broadcast(hits)
        .join(media, hits.neighbor_id == media.media_id)
        .select(
            "query_id", "rank", "neighbor_id", "cosine",
            "payload_sha256", "n_bytes",
        )
        .localCheckpoint(eager=True)  # digest list + final join read it
    )
    hit_digests = hit_media.select("payload_sha256").distinct()
    canon = (
        media.join(F.broadcast(hit_digests), "payload_sha256")
        .groupBy("payload_sha256")
        .agg(F.min("media_id").alias("canonical_media_id"))
    )
    return (
        hit_media.join(F.broadcast(canon), "payload_sha256")
        .select(
            "query_id", "rank", "neighbor_id", "cosine",
            "canonical_media_id", "n_bytes", "payload_sha256",
        )
    )


def mm_crossmodal_recall_eval(spark, sf_dir, nprobe: int = N_PROBE):
    """Quality gate for the cross-modal retriever (VERDICT r12 task 4):
    what does mm_crossmodal_topk's IVF-pruned probe MISS vs exact
    brute-force retrieval? Every other retrieval family in this engine
    carries one (ann_recall_eval, dedup_lsh_eval, sem_probe_eval);
    this is the cross-modal twin, measured where this operator's
    contract actually lives: at the CANONICAL-PAYLOAD level — fetching
    a re-crawled duplicate of the right clip is a hit, because the
    retriever's output IS the canonical id (keep-first semantics,
    postgres_audit_repository.py:68-70).

    recall@k per query = |ivf canonical set ∩ exact canonical set| /
    |exact canonical set| (the denominator can be < k when exact
    neighbors share a payload).

    Scale shape: the media table is scanned ONCE into the checkpointed
    digest projection; both hit lists are queries x k rows and
    broadcast into it; the canonical map is computed only over digests
    some hit touched (broadcast semi-join), exactly the
    mm_crossmodal_topk discipline. Nothing here is corpus x corpus.
    `nprobe` is the probe width of the retriever under test."""
    media = documents_as_media(spark, sf_dir).select(
        "media_id",
        F.sha2("payload", 256).alias("payload_sha256"),
    ).localCheckpoint(eager=True)  # one payload scan; both joins read this
    exact = ann_cosine_topk(spark, sf_dir).select(
        "query_id", "neighbor_id").withColumn("src", F.lit("exact"))
    ivf = ann_ivf_topk(spark, sf_dir, nprobe).select(
        "query_id", "neighbor_id").withColumn("src", F.lit("ivf"))
    hits = exact.unionByName(ivf)
    hm = (
        F.broadcast(hits)
        .join(media, hits.neighbor_id == media.media_id)
        .select("src", "query_id", "payload_sha256")
        .localCheckpoint(eager=True)  # digest list + canon join read it
    )
    hit_digests = hm.select("payload_sha256").distinct()
    canon = (
        media.join(F.broadcast(hit_digests), "payload_sha256")
        .groupBy("payload_sha256")
        .agg(F.min("media_id").alias("canonical_media_id"))
    )
    hc = (
        hm.join(F.broadcast(canon), "payload_sha256")
        .select("src", "query_id", "canonical_media_id")
        .distinct()
    )
    truth = hc.where(F.col("src") == "exact").select(
        "query_id", "canonical_media_id")
    pred = hc.where(F.col("src") == "ivf").select(
        "query_id", "canonical_media_id")
    n_truth = truth.groupBy("query_id").agg(
        F.count("*").alias("n_exact_canon"))
    hitcnt = (
        pred.join(truth, ["query_id", "canonical_media_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("hits"))
    )
    return (
        n_truth.join(hitcnt, "query_id", "left")
        .select(
            "query_id",
            "n_exact_canon",
            F.coalesce("hits", F.lit(0).cast("bigint")).alias("hits"),
            (
                F.coalesce("hits", F.lit(0).cast("bigint")).cast("double")
                / F.col("n_exact_canon")
            ).alias("recall"),
        )
    )


def _mm_crossmodal_oracle(nprobe: int = N_PROBE) -> str:
    # DuckDB sha256(VARCHAR) hashes the UTF-8 bytes — verified equal to
    # Spark's sha2(encode(text,'utf-8'), 256) lowercase hex.
    return f"""
        WITH hits AS ({_duck_ivf_topk(nprobe)}),
        media AS (
            SELECT doc_id AS media_id, sha256(text) AS payload_sha256,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
            FROM documents
        ), hm AS (
            SELECT h.query_id, h.rank, h.neighbor_id, h.cosine,
                   m.payload_sha256, m.n_bytes
            FROM hits h JOIN media m ON m.media_id = h.neighbor_id
        ), canon AS (
            SELECT payload_sha256, MIN(media_id) AS canonical_media_id
            FROM media
            WHERE payload_sha256 IN (SELECT payload_sha256 FROM hm)
            GROUP BY 1
        )
        SELECT hm.query_id, hm.rank, hm.neighbor_id, hm.cosine,
               c.canonical_media_id, hm.n_bytes, hm.payload_sha256
        FROM hm JOIN canon c USING (payload_sha256)
    """


ORACLE_SQL["mm_crossmodal_topk"] = _mm_crossmodal_oracle()


def _mm_crossmodal_recall_oracle(nprobe: int = N_PROBE) -> str:
    return f"""
        WITH exact_hits AS ({_SIM_ORACLE["ann_cosine_topk"]}),
        ivf_hits AS ({_duck_ivf_topk(nprobe)}),
        media AS (
            SELECT doc_id AS media_id, sha256(text) AS payload_sha256
            FROM documents
        ), hm AS (
            SELECT 'exact' AS src, h.query_id, m.payload_sha256
            FROM exact_hits h JOIN media m ON m.media_id = h.neighbor_id
            UNION ALL
            SELECT 'ivf' AS src, h.query_id, m.payload_sha256
            FROM ivf_hits h JOIN media m ON m.media_id = h.neighbor_id
        ), canon AS (
            SELECT payload_sha256, MIN(media_id) AS canonical_media_id
            FROM media
            WHERE payload_sha256 IN (SELECT payload_sha256 FROM hm)
            GROUP BY 1
        ), hc AS (
            SELECT DISTINCT src, query_id, canonical_media_id
            FROM hm JOIN canon USING (payload_sha256)
        ), n_truth AS (
            SELECT query_id, count(*) AS n_exact_canon FROM hc
            WHERE src = 'exact' GROUP BY 1
        ), hitcnt AS (
            SELECT p.query_id, count(*) AS hits
            FROM (SELECT query_id, canonical_media_id FROM hc
                  WHERE src = 'ivf') p
            JOIN (SELECT query_id, canonical_media_id FROM hc
                  WHERE src = 'exact') t
              ON t.query_id = p.query_id
             AND t.canonical_media_id = p.canonical_media_id
            GROUP BY 1
        )
        SELECT n.query_id, n.n_exact_canon,
               CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
               CAST(CAST(COALESCE(h.hits, 0) AS BIGINT) AS DOUBLE)
                   / n.n_exact_canon AS recall
        FROM n_truth n LEFT JOIN hitcnt h USING (query_id)
    """


ORACLE_SQL["mm_crossmodal_recall_eval"] = _mm_crossmodal_recall_oracle()


QUERIES = {
    "mm_crossmodal_topk": mm_crossmodal_topk,
    "mm_crossmodal_recall_eval": mm_crossmodal_recall_eval,
    "mm_payload_dedup": mm_payload_dedup,
    "mm_binary_stats": mm_binary_stats,
    "mm_feature_extract": mm_feature_extract,
    "mm_frame_sample_counts": mm_frame_sample_counts,
    "mm_magic_byte_census": mm_magic_byte_census,
    "mm_byte_entropy": mm_byte_entropy,
    "mm_image_decode_stats": mm_image_decode_stats,
    "mm_audio_decode_stats": mm_audio_decode_stats,
    "mm_video_frame_stats": mm_video_frame_stats,
}
