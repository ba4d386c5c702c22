"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

Each decode kernel has two rungs. The first is a stdlib codec: the
from-scratch PNG, BMP and JPEG decoders in ``llm/png.py``, ``llm/bmp.py``
and ``llm/jpeg.py`` for images, Python's ``wave`` module for PCM WAV
audio. It produces REAL pixels and samples. The second is a
clearly-marked deterministic stub with the same signature, for payloads
that are not decodable media at all (the synthetic text-bytes corpus the
fixtures use: a text payload can never carry a PNG/BMP/JPEG signature or
a RIFF header, so the oracle-replayed stub arithmetic is unreachable by
accident). The DuckDB oracles replay the stub's byte arithmetic on the
synthetic corpus and the codecs' exact output on the generated media.
The Spark-side plumbing is the same on both rungs: typed schemas,
``mapInPandas`` batch iteration (Arrow), partition sizing, and the
metadata projection.

At 100 TB the pattern is: binaries live in parquet/lance files with a
``content binary`` column; decode runs as ``mapInPandas`` so one Python
worker processes a whole Arrow batch; CPU-heavy kernels get
``spark.task.cpus`` or a repartition to match decoder parallelism.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("content", T.BinaryType()),
        T.StructField("mime_type", T.StringType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha", T.StringType()),
        T.StructField("histogram", T.ArrayType(T.DoubleType())),
        # which rung of the decode ladder produced the row, so the stub
        # rate is a measured number:
        #   vendored   — real decode via the from-scratch codecs
        #   stub-dims  — REAL dimensions from the headers, stub histogram
        #                (arithmetic/lossless/12-bit JPEG)
        #   stub       — payload is not decodable media at all
        T.StructField("decode_source", T.StringType()),
    ]
)


def _decode_image_stub(content: bytes) -> tuple[int, int, list[float]]:
    """STUB fallback — deterministic fake: derives a plausible
    (width, height) and an 8-bin byte-value histogram from the raw bytes so
    the pipeline shape (schema, batching, joins downstream) is fully
    exercised and the oracle can replay the arithmetic."""
    if content is None:
        raise NotImplementedError("real decoder required for NULL-content media")
    n = len(content)
    width = 64 + (n % 512)
    height = 64 + ((n // 7) % 512)
    hist = [0.0] * 8
    for byte in content[:4096]:
        hist[byte >> 5] += 1.0
    total = sum(hist) or 1.0
    return width, height, [h / total for h in hist]


def _decode_image_vendored(content: bytes) -> tuple[int, int, list[float], str]:
    """From-scratch decode (PNG via llm/png.py, BMP via llm/bmp.py,
    baseline/progressive JPEG via llm/jpeg.py): true dimensions + 8-bin
    ITU-R 601-2 luminance histogram. Raises for payloads outside the
    three formats. The 4th element is the rung tag: "vendored" for a
    full pixel decode, "stub-dims" when only the header dimensions are
    real (arithmetic/lossless/12-bit JPEG)."""
    from udata_datalake_service_spark.llm import png as _png

    if content[:2] == b"BM":
        from udata_datalake_service_spark.llm import bmp as _bmp

        w, h, nch, pixels = _bmp.decode_bmp(content)
    elif content[:2] == b"\xff\xd8":
        from udata_datalake_service_spark.llm import jpeg as _jpeg

        try:
            # baseline AND progressive (SOF2) decode for real pixels
            w, h, nch, pixels = _jpeg.decode_jpeg(content)
        except NotImplementedError:
            # arithmetic/lossless coding: dimensions are still real —
            # report them over the stub's byte histogram rather than
            # falling back to fake dimensions
            w, h, _nc = _jpeg.parse_jpeg_dimensions(content)
            return w, h, _decode_image_stub(content)[2], "stub-dims"
    else:
        w, h, nch, pixels = _png.decode_png(content)
    hist = [0.0] * 8
    for v in _png.luminance(pixels, nch):
        hist[v >> 5] += 1.0
    total = sum(hist) or 1.0
    return w, h, [b / total for b in hist], "vendored"


def _decode_image(content: bytes) -> tuple[int, int, list[float], str]:
    """Decode ladder: vendored stdlib codecs (PNG/BMP/JPEG) →
    deterministic stub (payload not one of those formats, e.g. the
    synthetic text-bytes fixture corpus). The 4th element names the rung
    that produced the result (vendored | stub-dims | stub) so downstream
    queries can MEASURE the stub rate."""
    if content is not None:
        try:
            return _decode_image_vendored(content)
        except Exception:
            pass
    w, h, hist = _decode_image_stub(content)
    return w, h, hist, "stub"


def extract_image_features(media: DataFrame) -> DataFrame:
    """``mapInPandas`` feature extraction over binary content.

    One Arrow batch in → one pandas frame out; no per-row Python call
    overhead at the Spark boundary. Output schema is fixed/typed so
    downstream joins and writes are planned normally.
    """
    import hashlib

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                w, h, hist, src = _decode_image(bytes(content))
                rows.append(
                    {
                        "media_id": media_id,
                        "width": w,
                        "height": h,
                        "n_bytes": len(content),
                        "sha": hashlib.sha1(bytes(content)).hexdigest(),
                        "histogram": hist,
                        "decode_source": src,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in IMAGE_FEATURES_SCHEMA])

    return media.filter(F.col("kind") == "image").select("media_id", "content").mapInPandas(
        batches, IMAGE_FEATURES_SCHEMA
    )


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        # integer ms: float rounding differs across engines (Python bankers
        # vs DuckDB half-away) — integer math keeps the oracle exact
        T.StructField("duration_ms", T.LongType()),
        # ladder rung (wave | stub) — the audio twin of the
        # image path's decode_source, so audio stub rates are measurable
        T.StructField("decode_source", T.StringType()),
    ]
)


def _decode_audio_stub(content: bytes, target_rate: int) -> tuple[int, int, int]:
    """STUB fallback — deterministic fake: treats the payload as 16-bit PCM
    mono, so every derived number is plain byte arithmetic the DuckDB
    oracle can replay."""
    if content is None:
        raise NotImplementedError("real decoder required for NULL-content media")
    n_samples = len(content) // 2
    return n_samples, target_rate, n_samples * 1000 // target_rate


def _decode_audio_wave(content: bytes, target_rate: int) -> tuple[int, int, int]:
    """Stdlib ``wave`` leg: parses RIFF/WAVE PCM headers (frame count +
    rate are all the features need). Raises for non-WAV payloads."""
    import io
    import wave

    with wave.open(io.BytesIO(content), "rb") as w:
        n = w.getnframes()
        rate = w.getframerate()
    n_out = n * target_rate // rate
    return n_out, target_rate, n_out * 1000 // target_rate


def _decode_audio(content: bytes, target_rate: int) -> tuple[int, int, int, str]:
    """Decode ladder: stdlib ``wave`` (PCM WAV) → deterministic stub.
    The 4th element names the rung."""
    if content is not None:
        try:
            return (*_decode_audio_wave(content, target_rate), "wave")
        except Exception:
            pass
    return (*_decode_audio_stub(content, target_rate), "stub")


def extract_audio_features(media: DataFrame, target_rate: int = 16000) -> DataFrame:
    """``mapInPandas`` audio decode/resample plumbing (same shape as the
    image path: one Arrow batch per Python call, fixed typed output)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                raw = bytes(content)
                n_samples, rate, dur_ms, src_tag = _decode_audio(raw, target_rate)
                rows.append(
                    {
                        "media_id": media_id,
                        "n_bytes": len(raw),
                        "n_samples": n_samples,
                        "sample_rate": rate,
                        "duration_ms": dur_ms,
                        "decode_source": src_tag,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in AUDIO_FEATURES_SCHEMA])

    return media.filter(F.col("kind") == "audio").select("media_id", "content").mapInPandas(
        batches, AUDIO_FEATURES_SCHEMA
    )


def _resize_image_one(content: bytes, width: int, height: int) -> bytes:
    """Vendored stdlib codecs: decode a PNG or BMP → nearest-neighbour
    resample → filter-0 PNG encode. Any other payload gets a
    deterministic stand-in (target dims + content sha1) so batch shape,
    binary output schema, and downstream writes are exercised for real."""
    import hashlib

    if content is not None:
        try:
            from udata_datalake_service_spark.llm import png as _png

            raw = bytes(content)
            if raw[:2] == b"BM":
                from udata_datalake_service_spark.llm import bmp as _bmp

                w, h, nch, pixels = _bmp.decode_bmp(raw)
            else:
                w, h, nch, pixels = _png.decode_png(raw)
            resized = _png.resize_nearest(pixels, w, h, nch, width, height)
            return _png.encode_png(width, height, nch, resized)
        except Exception:
            pass
    digest = hashlib.sha1(bytes(content)).digest()
    return b"RESIZED:%dx%d:" % (width, height) + digest


def resize_image(media: DataFrame, width: int, height: int) -> DataFrame:
    """``mapInPandas`` binary→binary transform (resize kernel): real
    nearest-neighbour resize of PNG/BMP payloads, deterministic stand-in
    payload otherwise."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                rows.append(
                    {
                        "media_id": media_id,
                        "content": _resize_image_one(bytes(content), width, height),
                        "width": width,
                        "height": height,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema])

    return media.filter(F.col("kind") == "image").select("media_id", "content").mapInPandas(
        batches, out_schema
    )


def frame_sample_plan(media: DataFrame, every_n_seconds: int = 5) -> DataFrame:
    """Video frame-sampling *plan*: emits (media_id, frame_ts) rows from the
    duration metadata — the real frame grab is the stubbed decode kernel.
    Pure DataFrame sequence/explode; no Python in the row path."""
    dur = F.col("meta")["duration_s"].cast("double")
    # dur >= 0: F.sequence DESCENDS for a negative stop, so corrupt
    # negative-duration metadata would fabricate frame timestamps
    return (
        media.filter((F.col("kind") == "video") & dur.isNotNull() & (dur >= 0))
        .withColumn(
            "frame_ts",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.floor(dur).cast("int"),
                    F.lit(every_n_seconds),
                )
            ),
        )
        .select("media_id", "frame_ts")
    )


def fake_media_from_documents(documents: DataFrame) -> DataFrame:
    """Build a deterministic media table from the documents fixture (the
    container ships no binary corpus): content = utf-8 bytes of the text.
    Lets every plumbing test and query run on real Spark binary columns."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("content"),
        F.lit("application/octet-stream").alias("mime_type"),
        F.create_map(F.lit("origin"), F.lit("synthetic")).alias("meta"),
    )


def jpeg_media_from_documents(documents: DataFrame, modulus: int = 5) -> DataFrame:
    """REAL-JPEG media fixture: one grayscale JPEG per document
    (doc_id % modulus == 0), ENCODED IN THE EXECUTORS (Arrow-batched
    mapInPandas over llm/jpeg.py) — flat gray g=(doc_id*37)%256 with
    doc_id-varying dimensions, every 10th file using restart markers, and
    every 3rd file PROGRESSIVE (SOF2, the majority coding of web-crawl
    JPEG): multi-scan successive approximation through the same oracle,
    so the distributed decode path downstream exercises baseline Huffman
    + IDCT + RST handling AND the Annex G scan ladder on bytes no driver
    ever saw. Flat blocks under unit quantization round-trip
    pixel-exactly in both codings, which is what lets a SQL oracle state
    the decoded luminance.

    Every 7th selected file (doc_id % (7*modulus) == 6*modulus) is
    ARITHMETIC-CODED header-wise: the baseline bytes with the SOF0 marker
    patched to SOF9 (0xFFC9, ITU T.81 sequential arithmetic). The decode
    ladder must surface it as decode_source='stub-dims' — true header
    dimensions, stub histogram — making the stub rate a measured,
    oracle-attested number."""
    from udata_datalake_service_spark.llm.jpeg import (
        encode_jpeg_gray,
        encode_jpeg_gray_progressive,
    )

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("content", T.BinaryType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for raw in pdf["doc_id"]:
                i = int(raw)
                w, h = 16 + 8 * (i % 3), 8 + 8 * (i % 2)
                g = (i * 37) % 256
                if (i // modulus) % 7 == 6:
                    # arithmetic-coded leg: baseline bytes, SOF0→SOF9.
                    # The patch hits the FIRST 0xFFC0 in the stream —
                    # the SOF segment, which precedes all entropy data.
                    content = encode_jpeg_gray(
                        w, h, bytes([g]) * (w * h)
                    ).replace(b"\xff\xc0", b"\xff\xc9", 1)
                elif (i // modulus) % 3 == 0:
                    content = encode_jpeg_gray_progressive(
                        w,
                        h,
                        bytes([g]) * (w * h),
                        restart_interval=2 if i % 10 == 0 else 0,
                    )
                else:
                    content = encode_jpeg_gray(
                        w,
                        h,
                        bytes([g]) * (w * h),
                        restart_interval=1 if i % 10 == 0 else 0,
                    )
                rows.append({"media_id": i, "kind": "image", "content": content})
            yield pd.DataFrame(rows, columns=["media_id", "kind", "content"])

    return (
        documents.filter(F.col("doc_id") % modulus == 0)
        .select("doc_id")
        .mapInPandas(gen, schema)
    )


def embed_media(
    media: DataFrame, dim: int = 8, id_col: str = "media_id"
) -> DataFrame:
    """Content embeddings for media rows — the slot a CLIP/SigLIP-style
    inference kernel (Arrow-batched pandas UDF over the binary column)
    drops into. The container ships no model, so the default kernel is a
    DETERMINISTIC content-hash featurizer: component k = the k-th 16-bit
    window of md5(content) scaled to [-0.5, 0.5] (dim ≤ 8 windows fit one
    md5). Same schema, same map-only shape, exactly SQL-replayable — the
    plumbing (not the model) is what the oracle attests.

    Pure JVM expressions: md5 + conv per component, zero Python, zero
    shuffle. Returns (id_col, embedding: array<double>)."""
    if dim > 8:
        raise ValueError("hash stub yields at most 8 components (one md5)")
    h = F.md5(F.col("content"))
    comps = [
        (
            F.conv(F.substring(h, k * 4 + 1, 4), 16, 10).cast("long") / 65535.0
            - 0.5
        )
        for k in range(dim)
    ]
    return media.select(F.col(id_col), F.array(*comps).alias("embedding"))


EXIF_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("byte_order", T.StringType()),
        T.StructField("make", T.StringType()),
        T.StructField("model", T.StringType()),
        T.StructField("orientation", T.IntegerType()),
        T.StructField("datetime_original", T.StringType()),
        T.StructField("pixel_x", T.IntegerType()),
        T.StructField("pixel_y", T.IntegerType()),
        T.StructField("iso", T.IntegerType()),
        T.StructField("f_number", T.DoubleType()),
        # decimal degrees, rounded(6) so Spark and the SQL oracle agree
        # on the last printed digit of deg + min/60 + sec/3600
        T.StructField("gps_lat", T.DoubleType()),
        T.StructField("gps_lon", T.DoubleType()),
    ]
)


def exif_media_from_documents(documents: DataFrame, modulus: int = 4) -> DataFrame:
    """EXIF-bearing JPEG fixture: one tagged grayscale JPEG per document
    (doc_id % modulus == 0), assembled IN THE EXECUTORS — llm/jpeg.py
    encodes the pixels, llm/exif.py builds the APP1 (alternating II/MM
    byte order per file, model tag absent every 7th file, GPS on a
    1/3600-degree grid so the rational triplets round-trip exactly).
    Every field is a closed form of doc_id, which is what lets the
    mm_exif_meta oracle restate the full parse in SQL."""
    from udata_datalake_service_spark.llm.exif import build_exif_app1, insert_app1
    from udata_datalake_service_spark.llm.jpeg import encode_jpeg_gray

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("content", T.BinaryType()),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for raw in pdf["doc_id"]:
                i = int(raw)
                if i % modulus:
                    continue
                w, h = 16 + 8 * (i % 3), 8 + 8 * (i % 2)
                jpeg = encode_jpeg_gray(w, h, bytes([(i * 37) % 256]) * (w * h))
                lat = (i % 180) - 90 + (i % 60) / 60 + (i % 2) * 30 / 3600
                lon = ((i * 3) % 360) - 180 + ((i * 7) % 60) / 60
                app1 = build_exif_app1(
                    byte_order="MM" if i % 3 == 0 else "II",
                    make=f"Cam{i % 3}",
                    model=None if i % 7 == 0 else f"M-{i % 5}",
                    orientation=1 + i % 8,
                    datetime_original=(
                        f"2026:01:{1 + i % 28:02d} {i % 24:02d}:00:00"
                    ),
                    pixel_x=w,
                    pixel_y=h,
                    iso=100 * (1 + i % 4),
                    f_number=(10 + i % 40, 10),
                    gps=(lat, lon),
                )
                rows.append(
                    {
                        "media_id": i,
                        "kind": "image",
                        "content": insert_app1(jpeg, app1),
                    }
                )
            yield pd.DataFrame(rows, columns=["media_id", "kind", "content"])

    return documents.select("doc_id").mapInPandas(gen, schema)


def extract_exif_features(media: DataFrame) -> DataFrame:
    """Header-only distributed EXIF scan (llm/exif.py): Arrow-batched
    ``mapInPandas``, no entropy decode — the 100 TB shape for camera
    metadata (the APP1 segment sits in the first KB of the file, so a
    production reader needs only a ranged head read per object)."""
    from udata_datalake_service_spark.llm.exif import parse_exif

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                m = parse_exif(bytes(content))
                rows.append(
                    {
                        "media_id": media_id,
                        "byte_order": m.get("byte_order"),
                        "make": m.get("make"),
                        "model": m.get("model"),
                        "orientation": m.get("orientation"),
                        "datetime_original": m.get("datetime_original"),
                        "pixel_x": m.get("pixel_x"),
                        "pixel_y": m.get("pixel_y"),
                        "iso": m.get("iso"),
                        "f_number": m.get("f_number"),
                        "gps_lat": (
                            None
                            if m.get("gps_lat") is None
                            else round(m["gps_lat"], 6)
                        ),
                        "gps_lon": (
                            None
                            if m.get("gps_lon") is None
                            else round(m["gps_lon"], 6)
                        ),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in EXIF_FEATURES_SCHEMA])

    return media.filter(F.col("kind") == "image").select(
        "media_id", "content"
    ).mapInPandas(batches, EXIF_FEATURES_SCHEMA)
