"""Multimodal pipeline queries: binary media columns decoded for real.

No media files ship with the test data, so a media table is synthesized
deterministically from ``documents``: image rows carry REAL 24-bpp BMP
bytes (constant gray level, dimensions derived from doc_id), audio rows
carry REAL 16-bit PCM WAV bytes (square wave, amplitude/length derived
from doc_id), video rows carry opaque bytes + metadata (video codecs
genuinely need ffmpeg). The decode stage (operators/multimodal.py) parses
the actual file headers and pixel/sample payloads, so every reported
feature — width, height, mean_luma, duration_ms, rms — is computed from
the bytes, and the DuckDB oracle predicts the same values analytically
from doc_id. This closes the encode -> binary column -> Arrow batch ->
decode loop end-to-end.

Scale notes: synth and decode are both map-only stages — no shuffle until
the final ORDER BY; bytes move JVM->Python once per Arrow batch, never
per row.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_lunar_spark.operators import multimodal as M
from pulsar_lunar_spark.queries.registry import register
from pulsar_lunar_spark.session import ensure_parallelism, load_table

# Derivations shared (conceptually) by the python synth and the SQL oracle:
#   image: w = doc_id % 31 + 2, h = doc_id % 17 + 2, gray = doc_id % 256
#          n_bytes = 54 + ((w*3 + 3) // 4 * 4) * h      (BMP headers + padded rows)
#   audio: amp = doc_id % 1000 + 1, n = doc_id % 500 + 10, rate = 1000 Hz
#          duration_ms = n, rms = amp, n_bytes = 44 + 2*n (WAV headers + samples)

_MEDIA_SQL = """
    SELECT 'm' || doc_id AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END
             AS media_type,
           doc_id,
           OCTET_LENGTH(ENCODE(text)) AS text_bytes
    FROM documents
"""


_ONLY_MOD = {"image": 0, "audio": 1, "video": 2}


def _media_df(spark: SparkSession, sf_dir: str, only: str | None = None) -> DataFrame:
    """Synthesize the media table from documents. ``only`` restricts the
    synthesis to one modality (doc_id % 3 class) BEFORE the per-row
    encode loop — a query that reads one modality shouldn't pay for
    encoding the other two (the filter is a pushed-down scan predicate;
    the oracle applies the same media_type filter)."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents")).select("doc_id", "text")
    if only is not None:
        d = d.filter(F.col("doc_id") % 3 == _ONLY_MOD[only])

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                if did % 3 == 0:
                    w, h, gray = did % 31 + 2, did % 17 + 2, did % 256
                    rows.append(
                        (f"m{did}", "image", M.encode_bmp(gray, w, h), "bmp", None, None, None)
                    )
                elif did % 3 == 1:
                    amp, n = did % 1000 + 1, did % 500 + 10
                    samples = np.full(n, amp, dtype=np.int16)
                    samples[1::2] *= -1  # square wave: rms == amp exactly
                    rows.append(
                        (f"m{did}", "audio", M.encode_wav(samples, rate=1000), "wav",
                         None, None, None)
                    )
                else:
                    # real uncompressed AVI: gradient frames
                    # pixel(y, x, f) = (x + y + 3f) % 256 — max 44, so the
                    # modulo is the identity and luma sums have closed form
                    w, h, n = did % 13 + 2, did % 11 + 2, did % 6 + 2
                    y, x = np.mgrid[0:h, 0:w]
                    frames = np.stack([(x + y + 3 * f) % 256 for f in range(n)])
                    rows.append(
                        (f"m{did}", "video",
                         M.encode_avi(frames.astype(np.uint8), usec_per_frame=500_000),
                         "avi", None, None, n * 500)
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "media_type", "content", "format",
                    "width", "height", "duration_ms",
                ],
            )

    return d.mapInPandas(_synth, schema=M.MEDIA_SCHEMA)


def _materialized(spark: SparkSession, sf_dir: str, tag: str, build) -> DataFrame:
    """Materialize a synthesized fixture DataFrame once (a
    session.shared_spool artifact) and re-read it on later calls — the
    per-row python encode loops are fixture builds, and re-running them
    on every bench rep measured fixture cost, not the decode operator
    under test. Binary content round-trips parquet losslessly, so the
    decode stage sees byte-identical input either way."""
    from pulsar_lunar_spark.session import shared_spool

    return shared_spool(spark, sf_dir, f"pulsar_lunar_media_{tag}", build)


def _media_table(spark: SparkSession, sf_dir: str, only: str | None = None) -> DataFrame:
    return _materialized(
        spark, sf_dir, only or "all", lambda: _media_df(spark, sf_dir, only=only)
    )


@register(
    "q_media_image_features",
    oracle=f"""
    WITH media AS ({_MEDIA_SQL})
    SELECT media_id,
           CAST(54 + ((doc_id % 31 + 2) * 3 + 3) // 4 * 4 * (doc_id % 17 + 2) AS BIGINT)
               AS n_bytes,
           CAST(doc_id % 31 + 2 AS INT) AS width,
           CAST(doc_id % 17 + 2 AS INT) AS height,
           ROUND(CAST(doc_id % 256 AS DOUBLE), 4) AS mean_luma,
           TRUE AS decode_ok
    FROM media WHERE media_type = 'image'
    ORDER BY media_id
    """,
    tags=("multimodal", "image", "map-in-pandas"),
)
def q_media_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode over binary columns: synthesized 24-bpp BMPs are
    header-parsed and pixel-averaged in the mapInPandas stage; the oracle
    recomputes width/height/mean_luma/file-size analytically from doc_id —
    a wrong byte anywhere in encode or decode turns the row red."""
    feats = M.image_features(_media_table(spark, sf_dir, only="image"))
    return feats.select(
        "media_id", "n_bytes", "width", "height",
        F.round("mean_luma", 4).alias("mean_luma"), "decode_ok",
    ).orderBy("media_id")


@register(
    "q_media_png_features",
    oracle=f"""
    WITH media AS ({_MEDIA_SQL})
    SELECT media_id,
           CAST(doc_id % 31 + 2 AS INT) AS width,
           CAST(doc_id % 17 + 2 AS INT) AS height,
           ROUND(CAST(doc_id % 256 AS DOUBLE), 4) AS mean_luma,
           TRUE AS decode_ok
    FROM media WHERE media_type = 'image'
    ORDER BY media_id
    """,
    tags=("multimodal", "image", "png", "map-in-pandas"),
)
def q_media_png_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode over binary columns: constant-gray PNGs encoded with
    CYCLING scanline filters (None/Sub/Up/Average/Paeth across rows), so
    the decode stage must run the genuine zlib inflate + every unfilter
    path to recover the gray level — any filter bug shifts mean_luma and
    turns the row red. Dimensions/means have exact analytic oracle twins.
    (PNG container size is zlib-dependent, so unlike BMP no n_bytes
    formula is asserted.)"""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents")).select("doc_id")
    d = d.filter(F.col("doc_id") % 3 == 0)

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h, gray = did % 31 + 2, did % 17 + 2, did % 256
                png = M.encode_png(np.full((h, w), gray, dtype=np.uint8))
                rows.append((f"m{did}", "image", png, "png", None, None, None))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "media_type", "content", "format",
                    "width", "height", "duration_ms",
                ],
            )

    png_tbl = _materialized(
        spark, sf_dir, "png", lambda: d.mapInPandas(_synth, schema=M.MEDIA_SCHEMA)
    )
    feats = M.image_features(png_tbl)
    return feats.select(
        "media_id", "width", "height",
        F.round("mean_luma", 4).alias("mean_luma"), "decode_ok",
    ).orderBy("media_id")


@register(
    "q_media_jpeg_features",
    oracle=f"""
    WITH media AS ({_MEDIA_SQL})
    SELECT media_id,
           CAST(doc_id % 31 + 2 AS INT) AS width,
           CAST(doc_id % 17 + 2 AS INT) AS height,
           TRUE AS luma_ok,
           TRUE AS decode_ok
    FROM media WHERE media_type = 'image'
    ORDER BY media_id
    """,
    tags=("multimodal", "image", "jpeg", "map-in-pandas"),
)
def q_media_jpeg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline JPEG decode (operators/jpeg.py — 8x8 DCT, quantization,
    canonical Huffman, byte unstuffing; tables reconstructed from the
    file's own DQT/DHT segments): constant-gray JPEGs decode to dimensions
    exactly and mean luma within the DC quantization bound (±1 gray level
    — JPEG is lossy, so the luma check is a bound, not an equality)."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents")).select("doc_id")
    d = d.filter(F.col("doc_id") % 3 == 0)

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pulsar_lunar_spark.operators.jpeg import encode_jpeg

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h, gray = did % 31 + 2, did % 17 + 2, did % 256
                jpg = encode_jpeg(np.full((h, w), gray, dtype=np.uint8))
                rows.append((f"m{did}", "image", jpg, "jpeg", None, None, None))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "media_type", "content", "format",
                    "width", "height", "duration_ms",
                ],
            )

    jpg_tbl = _materialized(
        spark, sf_dir, "jpeg", lambda: d.mapInPandas(_synth, schema=M.MEDIA_SCHEMA)
    )
    feats = M.image_features(jpg_tbl)
    gray = (F.regexp_extract("media_id", r"m(\d+)", 1).cast("long") % 256).cast(
        "double"
    )
    return feats.select(
        "media_id", "width", "height",
        (F.abs(F.col("mean_luma") - gray) <= 1.0).alias("luma_ok"),
        "decode_ok",
    ).orderBy("media_id")


@register(
    "q_media_transcode",
    oracle=f"""
    WITH media AS ({_MEDIA_SQL})
    SELECT media_id,
           CAST(8 AS INT) AS out_width,
           CAST(8 AS INT) AS out_height,
           TRUE AS luma_ok,
           TRUE AS transcode_ok
    FROM media WHERE media_type = 'image'
    ORDER BY media_id
    """,
    tags=("multimodal", "image", "transcode", "map-in-pandas"),
)
def q_media_transcode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image transcode pipeline: color PNG in (zlib decode + full
    unfilter) -> nearest-neighbor resize to 8x8 -> baseline JPEG out
    (DCT + Huffman encode) -> JPEG decode to verify. Constant-color
    inputs survive the whole lossy chain within the JPEG DC bound, so
    the luma flag fails if ANY stage — either codec's encode or decode,
    or the resample — corrupts a byte. Map-only stage, bytes cross
    JVM->Python once per Arrow batch."""
    from pulsar_lunar_spark.operators.jpeg import decode_jpeg_pixels, encode_jpeg

    d = ensure_parallelism(load_table(spark, sf_dir, "documents")).select("doc_id")
    d = d.filter(F.col("doc_id") % 3 == 0)

    def _synth_png(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = did % 31 + 2, did % 17 + 2
                rgb = np.zeros((h, w, 3), dtype=np.uint8)
                rgb[:, :, 0] = did % 256
                rgb[:, :, 1] = (did * 7) % 256
                rgb[:, :, 2] = (did * 13) % 256
                rows.append((f"m{did}", M.encode_png(rgb)))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    # fixture (the color-PNG encode loop) materialized per process; the
    # transcode stage under test — PNG decode -> NN resize -> JPEG encode
    # -> JPEG decode — reads the stored bytes and re-derives the expected
    # color from the media id
    fix = _materialized(
        spark,
        sf_dir,
        "png_color",
        lambda: d.mapInPandas(_synth_png, schema="media_id string, content binary"),
    )

    def _transcode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, png in zip(pdf["media_id"], pdf["content"]):
                did = int(mid[1:])
                rgb = np.zeros((1, 1, 3), dtype=np.uint8)
                rgb[:, :, 0] = did % 256
                rgb[:, :, 1] = (did * 7) % 256
                rgb[:, :, 2] = (did * 13) % 256
                src = M.decode_png_pixels(bytes(png))
                yi = (np.arange(8) * src.shape[0]) // 8
                xi = (np.arange(8) * src.shape[1]) // 8
                thumb = src[np.ix_(yi, xi)]
                jpg = encode_jpeg(thumb)
                dec = decode_jpeg_pixels(jpg)
                # chroma DC quant step is 17, so a constant color can move
                # up to ceil(17/2/1.772)≈5 in a channel after the inverse
                # color transform; 6 is the honest bound (worst measured
                # over the whole doc_id color space: 4)
                luma_ok = bool(
                    np.abs(dec.astype(np.int64) - rgb[0, 0].astype(np.int64))
                    .max() <= 6
                )
                rows.append(
                    (f"m{did}", dec.shape[1], dec.shape[0], luma_ok,
                     dec.shape == (8, 8, 3))
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "out_width", "out_height", "luma_ok", "transcode_ok",
                ],
            )

    out = fix.mapInPandas(
        _transcode,
        schema=(
            "media_id string, out_width int, out_height int, "
            "luma_ok boolean, transcode_ok boolean"
        ),
    )
    return out.orderBy("media_id")


@register(
    "q_media_audio_features",
    oracle=f"""
    WITH media AS ({_MEDIA_SQL})
    SELECT media_id,
           CAST(44 + 2 * (doc_id % 500 + 10) AS BIGINT) AS n_bytes,
           CAST(doc_id % 500 + 10 AS INT) AS duration_ms,
           ROUND(CAST(doc_id % 1000 + 1 AS DOUBLE), 4) AS rms,
           TRUE AS decode_ok
    FROM media WHERE media_type = 'audio'
    ORDER BY media_id
    """,
    tags=("multimodal", "audio", "map-in-pandas"),
)
def q_media_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode: synthesized PCM WAVs (1 kHz square wave) are
    RIFF-chunk-walked and sample-RMS'd in the mapInPandas stage; duration
    and rms have exact analytic twins in the oracle."""
    feats = M.audio_features(_media_table(spark, sf_dir, only="audio"))
    return feats.select(
        "media_id", "n_bytes", "duration_ms",
        F.round("rms", 4).alias("rms"), "decode_ok",
    ).orderBy("media_id")


@register(
    "q_media_audio_mulaw",
    oracle=f"""
    WITH media AS ({_MEDIA_SQL}),
    p AS (
        SELECT media_id,
               doc_id % 1000 + 1 AS amp,
               doc_id % 500 + 10 AS n
        FROM media WHERE media_type = 'audio'
    ), mu AS (
        SELECT media_id, amp, n,
               LEAST(GREATEST(CAST(FLOOR(LOG2(LEAST(amp, 32635) + 132)) AS INT) - 7,
                              0), 7) AS e
        FROM p
    )
    SELECT media_id,
           CAST(44 + n AS BIGINT) AS n_bytes,
           CAST(n AS INT) AS duration_ms,
           ROUND(CAST(((((((LEAST(amp, 32635) + 132) >> (e + 3)) & 15) * 8 + 132)
                        * (1 << e)) - 132) AS DOUBLE), 4) AS rms,
           TRUE AS decode_ok
    FROM mu ORDER BY media_id
    """,
    tags=("multimodal", "audio", "mulaw", "map-in-pandas"),
)
def q_media_audio_mulaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL G.711 mu-law audio: square waves companded to 8-bit mu-law
    codes (fmt tag 7), RIFF-walked and EXPANDED back in the decode stage.
    Companding is deterministic integer math — sign, 3-bit exponent
    segment, 4-bit mantissa — so the oracle replicates the entire
    encode->decode round trip in SQL and the reported RMS is value-exact
    (a square wave's RMS is the expanded magnitude itself)."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents")).select("doc_id")
    d = d.filter(F.col("doc_id") % 3 == 1)

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                amp, n = did % 1000 + 1, did % 500 + 10
                samples = np.full(n, amp, dtype=np.int16)
                samples[1::2] *= -1
                rows.append(
                    (f"m{did}", "audio", M.encode_wav_mulaw(samples, rate=1000),
                     "wav", None, None, None)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "media_type", "content", "format",
                    "width", "height", "duration_ms",
                ],
            )

    tbl = _materialized(
        spark, sf_dir, "mulaw", lambda: d.mapInPandas(_synth, schema=M.MEDIA_SCHEMA)
    )
    feats = M.audio_features(tbl)
    return feats.select(
        "media_id", "n_bytes", "duration_ms",
        F.round("rms", 4).alias("rms"), "decode_ok",
    ).orderBy("media_id")


@register(
    "q_media_frame_sample",
    oracle=f"""
    WITH vid AS (
      SELECT media_id,
             doc_id % 13 + 2 AS w, doc_id % 11 + 2 AS h, doc_id % 6 + 2 AS n
      FROM ({_MEDIA_SQL}) WHERE media_type = 'video'
    )
    SELECT media_id,
           CAST(j AS INT) AS frame_index,
           CAST(j * 1000 AS INT) AS frame_ms,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(h * (w * (w - 1)) // 2 + w * (h * (h - 1)) // 2
                + 3 * (2 * j) * w * h AS BIGINT) AS luma_sum,
           TRUE AS decode_ok
    FROM (
      SELECT media_id, w, h, n,
             UNNEST(RANGE(0, (n - 1) // 2 + 1)) AS j
      FROM vid
    )
    ORDER BY media_id, frame_index
    """,
    tags=("multimodal", "video", "fanout", "decode"),
)
def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling: gradient videos are packed as genuine
    uncompressed RIFF AVI containers (multimodal.encode_avi — 24-bpp DIB
    '00db' frames, 2 fps), then mapInPandas decodes the container
    (decode_avi: RIFF chunk walk + DIB unpack), samples one frame per
    second (every 2nd frame), and emits each sampled frame's decoded
    dimensions + exact integer luma sum.

    The oracle is the closed form of the gradient: pixel(y,x,f) =
    x + y + 3f (all < 256, so no modulo), hence luma_sum(f) =
    h·w(w−1)/2 + w·h(h−1)/2 + 3f·w·h with f = 2j — any mis-parse of the
    container (row padding, bottom-up order, chunk offsets) breaks the
    hash. Compressed codecs still raise honestly (ffmpeg territory)."""
    frames = M.sample_avi_frames(_media_table(spark, sf_dir, only="video"), every_ms=1000)
    return frames.select(
        "media_id", "frame_index", "frame_ms", "width", "height",
        "luma_sum", "decode_ok",
    ).orderBy("media_id", "frame_index")


@register(
    "q_media_resize",
    oracle="""
    WITH img AS (
        SELECT 'm' || doc_id AS media_id,
               doc_id % 31 + 2 AS w, doc_id % 17 + 2 AS h
        FROM documents WHERE doc_id % 3 = 0
    )
    SELECT media_id,
           8 AS out_width, 8 AS out_height,
           CAST(246 AS BIGINT) AS n_bytes,
           CAST((SELECT SUM(((j * img.w) // 8 + (i * img.h) // 8) % 256)
                 FROM UNNEST(GENERATE_SERIES(0, 7)) u(i),
                      UNNEST(GENERATE_SERIES(0, 7)) v(j)) AS BIGINT) AS luma_sum,
           TRUE AS decode_ok
    FROM img ORDER BY media_id
    """,
    tags=("multimodal", "image", "resize"),
)
def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize: gradient BMPs (pixel(y,x) = (x+y) mod 256 —
    orientation-sensitive, so a row-flip bug anywhere in the codec turns
    every row red) are decoded, nearest-neighbor-resampled to 8x8,
    re-encoded, and the reported luma_sum is decoded from the RESIZED
    bytes. The oracle replays the exact NN index math ((i*h)//8,
    (j*w)//8) analytically — integer arithmetic end to end, no float
    anywhere. 246 = 54 header bytes + 24-byte padded rows * 8."""
    d = ensure_parallelism(
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % 3 == 0)
    )

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = did % 31 + 2, did % 17 + 2
                grad = (np.add.outer(np.arange(h), np.arange(w)) % 256).astype(np.uint8)
                rows.append((f"m{did}", M.encode_bmp(grad)))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    # fixture (the gradient BMP encode loop) materialized per process;
    # the resize operator under test reads the stored bytes
    imgs = _materialized(
        spark,
        sf_dir,
        "bmp_grad",
        lambda: d.mapInPandas(_synth, schema="media_id string, content binary"),
    )
    return M.resize_images(imgs, out_w=8, out_h=8).orderBy("media_id")


# ---------------------------------------------------------------------------
# Round-10 curation batch: scene-cut detection (video) and audio
# fingerprint dedup (the r9 verdict's multimodal asks)
# ---------------------------------------------------------------------------

_CUT_PER_PIXEL = 30  # cut when mean per-pixel delta exceeds this
_SCENE_JUMP = 60  # planted inter-scene luma jump (normal inter-frame = 3)


def _scene_vid_sql() -> str:
    # analytic twin of the scene fixture: w/h/n and the planted cuts at
    # frame indices 3 and 7 derive from doc_id alone
    return """
    vid AS (
        SELECT 'm' || doc_id AS media_id,
               doc_id % 13 + 2 AS w, doc_id % 11 + 2 AS h,
               doc_id % 8 + 4 AS n
        FROM documents WHERE doc_id % 3 = 2
    )"""


@register(
    "q_scene_cuts",
    oracle=f"""
    WITH {_scene_vid_sql()}
    SELECT media_id,
           CAST(n AS BIGINT) AS n_frames,
           CAST(1 + CASE WHEN n >= 8 THEN 1 ELSE 0 END AS BIGINT) AS n_cuts,
           CAST(2 + CASE WHEN n >= 8 THEN 1 ELSE 0 END AS BIGINT) AS n_shots,
           CAST(CASE WHEN n >= 8 THEN GREATEST(4, n - 7)
                     ELSE GREATEST(3, n - 3) END AS BIGINT)
               AS longest_shot_frames
    FROM vid ORDER BY media_id
    """,
    tags=("multimodal", "video", "scene-cut", "islands"),
)
def q_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over REAL AVI content — shot segmentation,
    the first step of any video curation pipeline: consecutive-frame
    absolute pixel deltas (multimodal.frame_deltas, exact integers from
    the decoded frames) are thresholded at mean-per-pixel > 30, and the
    cut positions assemble into shots via the gaps-and-islands
    discipline (per-video lag over cut rows; the trailing shot closes at
    n_frames). The fixture plants scene jumps (+60 luma) at frame
    indices 3 and 7 on top of the +3/frame gradient drift, so every
    video has 1-2 true cuts; the oracle is the closed form of the
    planted structure — any decode or delta error (row padding, frame
    order, wraparound) breaks it.

    Scale: decode+delta is a map-only Arrow stage (bytes cross once per
    batch); the relational tail shuffles only O(transitions) rows keyed
    by media_id."""
    d = ensure_parallelism(
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % 3 == 2)
    )

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h, n = did % 13 + 2, did % 11 + 2, did % 8 + 4
                y, x = np.mgrid[0:h, 0:w]
                frames = np.stack(
                    [
                        x + y + 3 * f + _SCENE_JUMP * ((f >= 3) + (f >= 7))
                        for f in range(n)
                    ]
                )  # max 14+12+30+120 = 176 < 256: no wraparound anywhere
                rows.append(
                    (
                        f"m{did}", "video",
                        M.encode_avi(frames.astype(np.uint8), usec_per_frame=500_000),
                        "avi", None, None, n * 500,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "media_type", "content", "format",
                    "width", "height", "duration_ms",
                ],
            )

    vids = _materialized(
        spark, sf_dir, "scenes",
        lambda: d.mapInPandas(_synth, schema=M.MEDIA_SCHEMA),
    )
    deltas = M.frame_deltas(vids).filter(F.col("decode_ok"))
    from pyspark.sql.window import Window

    per_vid = deltas.groupBy("media_id").agg(
        (F.count(F.lit(1)) + 1).cast("long").alias("n_frames")
    )
    cuts = deltas.filter(
        F.col("delta_sum")
        > _CUT_PER_PIXEL * F.col("width").cast("long") * F.col("height")
    ).select("media_id", "frame_index")
    w_cut = Window.partitionBy("media_id").orderBy("frame_index")
    lens = cuts.select(
        "media_id",
        "frame_index",
        (F.col("frame_index") - F.lag("frame_index", 1, 0).over(w_cut))
        .cast("long")
        .alias("shot_len"),
    )
    cut_agg = lens.groupBy("media_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_cuts"),
        F.max("shot_len").cast("long").alias("max_inner_shot"),
        F.max("frame_index").cast("long").alias("last_cut"),
    )
    return (
        per_vid.join(cut_agg, "media_id", "left")
        .select(
            "media_id",
            "n_frames",
            F.coalesce(F.col("n_cuts"), F.lit(0)).cast("long").alias("n_cuts"),
            (F.coalesce(F.col("n_cuts"), F.lit(0)) + 1)
            .cast("long")
            .alias("n_shots"),
            F.greatest(
                F.coalesce(F.col("max_inner_shot"), F.lit(0)),
                F.col("n_frames") - F.coalesce(F.col("last_cut"), F.lit(0)),
            )
            .cast("long")
            .alias("longest_shot_frames"),
        )
        .orderBy("media_id")
    )


# ---------------------------------------------------------------------------
# Audio fingerprint dedup (windowed Haar-band hash, SimHash-style lookup)
# ---------------------------------------------------------------------------

_AFP_WINDOW = 32
_AFP_MATCH_PPM = 600_000  # dup when >= 60% of windows share fingerprints


def _afp_clips_sql() -> str:
    """Analytic clip/sample CTEs: base clip per audio doc + a planted
    variant (one zeroed sample at i=40) for every doc_id % 5 == 1."""
    return """
    aud AS (
        SELECT doc_id, doc_id % 128 + 96 AS n FROM documents
        WHERE doc_id % 3 = 1
    ), clips AS (
        SELECT 'm' || doc_id AS clip_id, doc_id, n, FALSE AS isvar FROM aud
        UNION ALL
        SELECT 'm' || doc_id || 'v', doc_id, n, TRUE FROM aud
        WHERE doc_id % 5 = 1
    ), samples AS (
        SELECT clip_id, n, i // 32 AS win,
               CASE WHEN isvar AND i = 40 THEN 0
                    ELSE (doc_id * 7919 + 7 * i * i + doc_id * i) % 20011
                         % 201 - 100 END AS s,
               i
        FROM (SELECT clip_id, doc_id, n, isvar, UNNEST(RANGE(0, n)) AS i
              FROM clips)
        WHERE i // 32 < n // 32
    ), win0 AS MATERIALIZED (
        SELECT clip_id, CAST(n // 32 AS BIGINT) AS n_windows, win,
               LIST(s ORDER BY i) AS x
        FROM samples GROUP BY clip_id, n, win
    ), lvl1 AS (
        SELECT clip_id, n_windows, win,
               CAST(LIST_SUM(LIST_TRANSFORM(RANGE(1, 17),
                    j -> ABS(x[2*j-1] - x[2*j]))) AS BIGINT) AS b1,
               LIST_TRANSFORM(RANGE(1, 17), j -> x[2*j-1] + x[2*j]) AS x
        FROM win0
    ), lvl2 AS (
        SELECT clip_id, n_windows, win, b1,
               CAST(LIST_SUM(LIST_TRANSFORM(RANGE(1, 9),
                    j -> ABS(x[2*j-1] - x[2*j]))) AS BIGINT) AS b2,
               LIST_TRANSFORM(RANGE(1, 9), j -> x[2*j-1] + x[2*j]) AS x
        FROM lvl1
    ), lvl3 AS (
        SELECT clip_id, n_windows, win, b1, b2,
               CAST(LIST_SUM(LIST_TRANSFORM(RANGE(1, 5),
                    j -> ABS(x[2*j-1] - x[2*j]))) AS BIGINT) AS b3,
               LIST_TRANSFORM(RANGE(1, 5), j -> x[2*j-1] + x[2*j]) AS x
        FROM lvl2
    ), lvl4 AS (
        SELECT clip_id, n_windows, win, b1, b2, b3,
               CAST(LIST_SUM(LIST_TRANSFORM(RANGE(1, 3),
                    j -> ABS(x[2*j-1] - x[2*j]))) AS BIGINT) AS b4,
               LIST_TRANSFORM(RANGE(1, 3), j -> x[2*j-1] + x[2*j]) AS x
        FROM lvl3
    ), fps AS MATERIALIZED (
        SELECT clip_id, n_windows, win,
               CAST(b1 AS VARCHAR) || ',' || CAST(b2 AS VARCHAR) || ','
               || CAST(b3 AS VARCHAR) || ',' || CAST(b4 AS VARCHAR) || ','
               || CAST(ABS(x[1] - x[2]) AS VARCHAR) || ','
               || CAST(ABS(x[1] + x[2]) AS VARCHAR) AS bands
        FROM lvl4
    )"""


def _afp_pairs_cte() -> str:
    """The shared audio-fingerprint pair CTE chain (clips -> fps -> pp
    -> pairs): reused by the q_audio_fingerprint_dedup oracle and the
    q_stream_audio_ingest oracle (llm18) — one replica, no drift. clips
    carries doc_id so day attribution can derive from it."""
    from pulsar_lunar_spark.operators.corpus import md5_int_sql

    fp = md5_int_sql("bands", 8)
    return f"""
    WITH {_afp_clips_sql()},
    pp AS MATERIALIZED (
        SELECT clip_id, n_windows, win, {fp} AS fp FROM fps
    ), pairs AS (
        SELECT a.clip_id AS id_a, b.clip_id AS id_b,
               CAST(COUNT(*) AS BIGINT) AS n_match,
               CAST(ANY_VALUE(a.n_windows) AS BIGINT) AS n_windows_a,
               CAST(ANY_VALUE(b.n_windows) AS BIGINT) AS n_windows_b
        FROM pp a JOIN pp b ON a.win = b.win AND a.fp = b.fp
                           AND a.clip_id < b.clip_id
        GROUP BY a.clip_id, b.clip_id
    )"""


def _afp_oracle() -> str:
    return f"""{_afp_pairs_cte()}
    SELECT id_a, id_b, n_match, n_windows_a, n_windows_b,
           CAST((1000000 * n_match) // LEAST(n_windows_a, n_windows_b)
                AS BIGINT) AS match_ppm
    FROM pairs
    WHERE (1000000 * n_match) // LEAST(n_windows_a, n_windows_b)
          >= {_AFP_MATCH_PPM}
    ORDER BY id_a, id_b
    """


def _afp_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared audio-fingerprint fixture (closed-form WAV clips +
    planted one-window-corrupted variants), materialized once per
    (process, dataset) — consumed by q_audio_fingerprint_dedup and by
    the q_stream_audio_ingest topic producer (llm18)."""
    d = ensure_parallelism(
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % 3 == 1)
    )

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = did % 128 + 96
                i = np.arange(n, dtype=np.int64)
                s = (
                    (did * 7919 + 7 * i * i + did * i) % 20011 % 201 - 100
                ).astype(np.int16)
                rows.append(
                    (f"m{did}", "audio", M.encode_wav(s, rate=1000),
                     "wav", None, None, None)
                )
                if did % 5 == 1:
                    sv = s.copy()
                    sv[40] = 0
                    rows.append(
                        (f"m{did}v", "audio", M.encode_wav(sv, rate=1000),
                         "wav", None, None, None)
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "media_type", "content", "format",
                    "width", "height", "duration_ms",
                ],
            )

    return _materialized(
        spark, sf_dir, "afp",
        lambda: d.mapInPandas(_synth, schema=M.MEDIA_SCHEMA),
    )


@register(
    "q_audio_fingerprint_dedup",
    oracle=_afp_oracle(),
    tags=("multimodal", "audio", "fingerprint", "dedup", "lsh"),
)
def q_audio_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate audio detection over REAL WAV content — the
    Philips-robust-hash shape with exact integer spectral proxies:
    every 32-sample window runs a full integer Haar decomposition
    (multimodal.audio_fingerprints; 5 detail bands + the approximation,
    all BIGINT adds — no FFT floats, so the fingerprint is value-exact
    across Spark, numpy, and the SQL oracle), the band vector hashes
    through the shared md5 twin, and clips pair through a SimHash-style
    (window, fingerprint) inverted-index join — never all-pairs. A pair
    is a duplicate when >= 60% of the shorter clip's windows match; the
    fixture plants one variant clip (a single zeroed sample at i=40 —
    one corrupted window) for every fifth audio doc, so every planted
    pair matches at (W-1)/W and unrelated clips share nothing.

    The oracle recomputes the fingerprints analytically from doc_id
    (the clips are closed-form signals; the doc_id*i cross term keeps
    distinct docs' signals distinct — a pure additive offset mod the
    sample range collapsed clips into identical residue classes) and replays the same banded
    join — any decode error (RIFF offsets, sample width) changes every
    band and breaks the hash.

    Scale: decode+fingerprint is map-only Arrow; the candidate join is
    the LSH postings pattern — shuffle O(windows), pair mass bounded by
    fingerprint agreement, verification rides the same aggregate."""
    clips = _afp_fixture(spark, sf_dir)

    from pulsar_lunar_spark.operators.corpus import md5_int

    fps = M.audio_fingerprints(clips, window=_AFP_WINDOW).filter(
        F.col("decode_ok")
    )
    pp = fps.select(
        F.col("media_id").alias("clip_id"),
        "n_windows",
        F.col("win_index").alias("win"),
        md5_int(F.col("bands"), hex_chars=8).alias("fp"),
    )
    pairs = (
        pp.alias("a")
        .join(
            pp.alias("b"),
            (F.col("a.win") == F.col("b.win"))
            & (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.clip_id") < F.col("b.clip_id")),
        )
        .groupBy(
            F.col("a.clip_id").alias("id_a"), F.col("b.clip_id").alias("id_b")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_match"),
            F.first(F.col("a.n_windows")).cast("long").alias("n_windows_a"),
            F.first(F.col("b.n_windows")).cast("long").alias("n_windows_b"),
        )
    )
    return (
        pairs.select(
            "id_a",
            "id_b",
            "n_match",
            "n_windows_a",
            "n_windows_b",
            F.expr(
                "(1000000L * n_match) div least(n_windows_a, n_windows_b)"
            )
            .cast("long")
            .alias("match_ppm"),
        )
        .filter(F.col("match_ppm") >= _AFP_MATCH_PPM)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Image perceptual-hash (dHash) dedup — completes the tri-modal near-dup
# story (audio fingerprints, video scene structure, image dHash)
# ---------------------------------------------------------------------------

_DHASH_HAMMING_MAX = 6  # pair when <= 6 of 64 bits differ


def _dhash_oracle() -> str:
    # closed-form bands: px(y, x) = 3x + 2y + ((x*y) % 16) * 8 (max 247,
    # no wraparound), sampled at x = (j*w)//9, y = (i*h)//8; bit(i, j) =
    # px(i, j) < px(i, j+1); band k packs rows 2k, 2k+1 little-endian.
    return f"""{_dhash_cte()}
    SELECT c.id_a, c.id_b,
           CAST(BIT_COUNT(XOR(ha.b0, hb.b0)) + BIT_COUNT(XOR(ha.b1, hb.b1))
                + BIT_COUNT(XOR(ha.b2, hb.b2)) + BIT_COUNT(XOR(ha.b3, hb.b3))
                AS BIGINT) AS hamming
    FROM cand c
    JOIN hashes ha ON ha.media_id = c.id_a
    JOIN hashes hb ON hb.media_id = c.id_b
    WHERE BIT_COUNT(XOR(ha.b0, hb.b0)) + BIT_COUNT(XOR(ha.b1, hb.b1))
          + BIT_COUNT(XOR(ha.b2, hb.b2)) + BIT_COUNT(XOR(ha.b3, hb.b3))
          <= {_DHASH_HAMMING_MAX}
    ORDER BY id_a, id_b
    """


def _dhash_cte() -> str:
    """The shared image-dHash CTE chain (img -> clips -> bands -> hashes
    -> cand): reused by the q_image_phash_dedup oracle and the
    q_stream_image_ingest oracle (llm18) — one replica, no drift. clips
    carries doc_id so day attribution can derive from it."""
    px = lambda j, i: (  # noqa: E731 — local SQL fragment builder
        f"(3 * ((({j}) * w) // 9) + 2 * ((({i}) * h) // 8)"
        f" + (((({j}) * w) // 9 * ((({i}) * h) // 8)) % 16) * 8)"
    )
    band = (
        "CAST(SUM(CASE WHEN "
        + px("j", "2 * k + r")
        + " < "
        + px("j + 1", "2 * k + r")
        + " THEN (1::BIGINT << (r * 8 + j)) ELSE 0 END) AS BIGINT)"
    )
    return f"""
    WITH img AS (
        SELECT doc_id, doc_id % 31 + 2 AS w, doc_id % 17 + 2 AS h
        FROM documents WHERE doc_id % 3 = 0
    ), clips AS (
        SELECT doc_id, 'm' || doc_id AS media_id, w, h FROM img
        UNION ALL
        SELECT doc_id, 'm' || doc_id || 'v', w, h FROM img
        WHERE doc_id % 15 = 0
    ), bands AS MATERIALIZED (
        SELECT media_id, k, {band} AS bv
        FROM clips,
             UNNEST(RANGE(0, 4)) kk(k),
             UNNEST(RANGE(0, 2)) rr(r),
             UNNEST(RANGE(0, 8)) jj(j)
        GROUP BY media_id, k
    ), hashes AS MATERIALIZED (
        SELECT media_id,
               MAX(CASE WHEN k = 0 THEN bv END) AS b0,
               MAX(CASE WHEN k = 1 THEN bv END) AS b1,
               MAX(CASE WHEN k = 2 THEN bv END) AS b2,
               MAX(CASE WHEN k = 3 THEN bv END) AS b3
        FROM bands GROUP BY media_id
    ), cand AS (
        SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
        FROM bands a JOIN bands b
          ON a.k = b.k AND a.bv = b.bv AND a.media_id < b.media_id
    )"""


def _dhash_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared image-dHash fixture (2-D gradient BMPs + planted
    brightness-shifted variants), materialized once per (process,
    dataset) — consumed by q_image_phash_dedup and by the
    q_stream_image_ingest topic producer (llm18)."""
    d = ensure_parallelism(
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % 3 == 0)
    )


    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = did % 31 + 2, did % 17 + 2
                y, x = np.mgrid[0:h, 0:w]
                px = (3 * x + 2 * y + ((x * y) % 16) * 8).astype(np.uint8)
                rows.append(
                    (f"m{did}", "image", M.encode_bmp(px), "bmp",
                     None, None, None)
                )
                if did % 15 == 0:
                    rows.append(
                        (f"m{did}v", "image", M.encode_bmp(px + 2), "bmp",
                         None, None, None)
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "media_type", "content", "format",
                    "width", "height", "duration_ms",
                ],
            )

    return _materialized(
        spark, sf_dir, "dhash",
        lambda: d.mapInPandas(_synth, schema=M.MEDIA_SCHEMA),
    )


@register(
    "q_image_phash_dedup",
    oracle=_dhash_oracle(),
    tags=("multimodal", "image", "phash", "dedup", "lsh"),
)
def q_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate image detection over REAL BMP content through a
    perceptual difference-hash (dHash): decode pixels, NN-resample to
    8x9, one bit per horizontally adjacent pixel pair, packed into four
    16-bit bands (multimodal.image_dhash — exact integer indexing and
    comparisons end to end). Candidates come from a SimHash-style
    (band_index, band_value) self-join — never all-pairs — and verify by
    bit_count(xor) Hamming distance <= 6, all JVM-side. The fixture is a
    2-D-varying gradient (px = 3x + 2y + ((x*y) % 16)*8 — the cross term
    keeps the hash sensitive to BOTH dimensions) plus a brightness-
    shifted (+2) variant for every fifteenth doc: dHash compares
    neighbors, so a global brightness shift leaves every bit unchanged —
    the property that makes it a dedup hash, not a checksum — and every
    planted variant pairs at Hamming 0. Same-dimension fixtures are
    pixel-identical and pair too (true duplicates). The oracle replays
    the resample/bit/pack math in closed form — any decode or indexing
    error flips bits and breaks the hash.

    Scale: decode+hash is map-only Arrow; the candidate join is the LSH
    banding pattern (shuffle O(4 bands x images); pair mass bounded by
    band agreement); verification rides broadcastable 4-column hash
    frames keyed by media_id."""
    imgs = _dhash_fixture(spark, sf_dir)
    hashes = M.image_dhash(imgs).filter(F.col("decode_ok"))
    bands = hashes.select(
        "media_id",
        "b0", "b1", "b2", "b3",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("k"), F.col(f"b{k}").alias("bv")
                    )
                    for k in range(4)
                ]
            )
        ).alias("kb"),
    ).select("media_id", "b0", "b1", "b2", "b3", "kb.k", "kb.bv")
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
            *[F.col(f"a.b{k}").alias(f"a{k}") for k in range(4)],
            *[F.col(f"b.b{k}").alias(f"bb{k}") for k in range(4)],
        )
        .distinct()
    )
    hamming = sum(
        F.bit_count(F.expr(f"a{k} ^ bb{k}")) for k in range(4)
    ).cast("long")
    return (
        cand.select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= _DHASH_HAMMING_MAX)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Audio silence segmentation (voice-activity-detection shape)
# ---------------------------------------------------------------------------

_VAD_ENERGY_THR = 100  # silent when window |s|-sum < 100 (speech ~ 1600)


def _vad_oracle() -> str:
    # closed-form clip: same signal family as the fingerprint fixture
    # (did*i cross term keeps clips distinct) with PLANTED silence —
    # samples zeroed over window 2 (i in [64, 96)) always, and window 4
    # (i in [128, 160)) when the clip is long enough
    return f"""
    WITH aud AS (
        SELECT doc_id, doc_id % 128 + 96 AS n FROM documents
        WHERE doc_id % 3 = 1
    ), samples AS (
        SELECT 'm' || doc_id AS media_id, n, i // 32 AS win,
               CASE WHEN (i >= 64 AND i < 96) OR (i >= 128 AND i < 160)
                    THEN 0
                    ELSE (doc_id * 7919 + 7 * i * i + doc_id * i) % 20011
                         % 201 - 100 END AS s,
               i
        FROM (SELECT doc_id, n, UNNEST(RANGE(0, n)) AS i FROM aud)
        WHERE i // 32 < n // 32
    ), wins AS MATERIALIZED (
        SELECT media_id, CAST(n // 32 AS BIGINT) AS n_windows, win,
               CAST(SUM(ABS(s)) AS BIGINT) AS energy
        FROM samples GROUP BY media_id, n, win
    ), speech AS (
        SELECT media_id, n_windows, win,
               win - ROW_NUMBER() OVER (PARTITION BY media_id
                                        ORDER BY win) AS grp
        FROM wins WHERE energy >= {_VAD_ENERGY_THR}
    ), segs AS (
        SELECT media_id, ANY_VALUE(n_windows) AS n_windows, grp,
               CAST(COUNT(*) AS BIGINT) AS seg_len
        FROM speech GROUP BY media_id, grp
    )
    SELECT media_id,
           CAST(ANY_VALUE(n_windows) AS BIGINT) AS n_windows,
           CAST(ANY_VALUE(n_windows) - SUM(seg_len) AS BIGINT) AS n_silent,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(MAX(seg_len) AS BIGINT) AS longest_speech_windows
    FROM segs GROUP BY media_id
    ORDER BY media_id
    """


@register(
    "q_audio_silence_segments",
    oracle=_vad_oracle(),
    tags=("multimodal", "audio", "vad", "islands", "segmentation"),
)
def q_audio_silence_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence segmentation over REAL WAV content — the voice-activity-
    detection preprocessing every speech-dataset pipeline runs before
    transcription or chunking: exact integer window energies
    (multimodal.audio_window_energy), an energy threshold marks silent
    windows, and speech segments assemble through the gaps-and-islands
    discipline (the audio twin of q_scene_cuts). The fixture plants one
    or two 32-sample silent gaps per clip at known offsets; the oracle
    recomputes the energies analytically from doc_id — any decode error
    (RIFF offsets, sample widths, window framing) shifts an energy and
    breaks the hash.

    Scale: decode+energy is map-only Arrow (bytes cross once per batch);
    the relational tail shuffles O(windows) rows keyed by media_id, and
    every per-clip statistic is window-count bounded."""
    d = ensure_parallelism(
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % 3 == 1)
    )

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = did % 128 + 96
                i = np.arange(n, dtype=np.int64)
                s = ((did * 7919 + 7 * i * i + did * i) % 20011 % 201 - 100)
                s[64:96] = 0
                s[128:160] = 0  # no-op slice when n < 160 past the end
                rows.append(
                    (f"m{did}", "audio",
                     M.encode_wav(s.astype(np.int16), rate=1000),
                     "wav", None, None, None)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "media_type", "content", "format",
                    "width", "height", "duration_ms",
                ],
            )

    clips = _materialized(
        spark, sf_dir, "vad",
        lambda: d.mapInPandas(_synth, schema=M.MEDIA_SCHEMA),
    )
    wins = M.audio_window_energy(clips, window=32).filter(F.col("decode_ok"))
    from pyspark.sql.window import Window

    speech = wins.filter(F.col("energy") >= _VAD_ENERGY_THR).select(
        "media_id",
        "n_windows",
        "win_index",
        (
            F.col("win_index")
            - F.row_number().over(
                Window.partitionBy("media_id").orderBy("win_index")
            )
        ).alias("grp"),
    )
    segs = speech.groupBy("media_id", "grp").agg(
        F.first("n_windows").alias("n_windows"),
        F.count(F.lit(1)).cast("long").alias("seg_len"),
    )
    return (
        segs.groupBy("media_id")
        .agg(
            F.first("n_windows").cast("long").alias("n_windows"),
            (F.first("n_windows") - F.sum("seg_len"))
            .cast("long")
            .alias("n_silent"),
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            F.max("seg_len").cast("long").alias("longest_speech_windows"),
        )
        .orderBy("media_id")
    )


# ---------------------------------------------------------------------------
# Video near-dup via shot-signature sequences (scene cuts x dHash)
# ---------------------------------------------------------------------------

_VDUP_MATCH_PPM = 600_000  # dup when >= 60% of the smaller side's shot
# signatures appear in the other clip's signature set


def _vdup_oracle() -> str:
    # closed-form replay of decode -> per-frame dHash -> scene-cut shot
    # starts -> per-shot signature sets -> signature-bucket join: shot s
    # of clip did has every frame equal to
    #   px(x, y) = a*x + b*y + ((x*(y+s)) % 8)*4 + 60*s
    # (a = did%2+1, b = (did//2)%2+1; max 196 < 256, no wraparound; the
    # +60 jump keeps every cut pixel-delta >= 32 > the 30/pixel cut
    # threshold while within-shot deltas are exactly 0), so the shot
    # starts ARE the planted shot grid and the signatures are the dHash
    # closed form — any decode, cut-detection, keyframe-join, or hash
    # error on the Spark side breaks value equality.
    return f"""{_vdup_cte()}
    SELECT s.id_a, s.id_b, s.shared_sigs,
           na.n_sigs AS n_sigs_a, nb.n_sigs AS n_sigs_b,
           CAST((1000000 * s.shared_sigs)
                // LEAST(na.n_sigs, nb.n_sigs) AS BIGINT) AS match_ppm
    FROM shared s
    JOIN nsig na ON na.media_id = s.id_a
    JOIN nsig nb ON nb.media_id = s.id_b
    WHERE (1000000 * s.shared_sigs) // LEAST(na.n_sigs, nb.n_sigs)
          >= {_VDUP_MATCH_PPM}
    ORDER BY id_a, id_b
    """


def _vdup_cte() -> str:
    """The shared video-shot-signature CTE chain (vid -> clips -> shots
    -> bands -> sigs -> nsig -> shared): reused by the q_video_neardup
    oracle and the q_stream_media_ingest oracle (llm18 composes the same
    pipeline behind a streaming ingest) — one replica, no drift. clips
    carries doc_id so day attribution can derive from it."""
    px = lambda j, i, s: (  # noqa: E731 — local SQL fragment builder
        f"(a * ((({j}) * w) // 9) + b * ((({i}) * h) // 8)"
        f" + ((((({j}) * w) // 9) * (((({i}) * h) // 8) + {s})) % 8) * 4"
        f" + 60 * ({s}))"
    )
    band = (
        "CAST(SUM(CASE WHEN "
        + px("j", "2 * k + r", "s")
        + " < "
        + px("j + 1", "2 * k + r", "s")
        + " THEN (1::BIGINT << (r * 8 + j)) ELSE 0 END) AS BIGINT)"
    )
    return f"""
    WITH vid AS (
        SELECT doc_id, doc_id % 13 + 2 AS w, doc_id % 11 + 2 AS h,
               doc_id % 2 + 2 AS nshots,
               doc_id % 2 + 1 AS a, (doc_id // 2) % 2 + 1 AS b
        FROM documents WHERE doc_id % 3 = 2
    ), clips AS (
        SELECT doc_id, 'm' || doc_id AS media_id, w, h, a, b,
               0 AS s_from, nshots AS s_to
        FROM vid
        UNION ALL
        SELECT doc_id, 'm' || doc_id || 't', w, h, a, b, 1, nshots
        FROM vid WHERE doc_id % 10 = 2
        UNION ALL
        SELECT doc_id, 'm' || doc_id || 'v', w, h, a, b, 0, nshots
        FROM vid WHERE doc_id % 10 = 5
    ), shots AS (
        SELECT media_id, w, h, a, b, ss.s
        FROM clips, UNNEST(RANGE(s_from, s_to)) ss(s)
    ), bands AS MATERIALIZED (
        SELECT media_id, s, k, {band} AS bv
        FROM shots,
             UNNEST(RANGE(0, 4)) kk(k),
             UNNEST(RANGE(0, 2)) rr(r),
             UNNEST(RANGE(0, 8)) jj(j)
        GROUP BY media_id, s, k
    ), sigs AS MATERIALIZED (
        SELECT DISTINCT media_id,
               MAX(CASE WHEN k = 0 THEN bv END) AS b0,
               MAX(CASE WHEN k = 1 THEN bv END) AS b1,
               MAX(CASE WHEN k = 2 THEN bv END) AS b2,
               MAX(CASE WHEN k = 3 THEN bv END) AS b3
        FROM bands GROUP BY media_id, s
    ), nsig AS MATERIALIZED (
        SELECT media_id, CAST(COUNT(*) AS BIGINT) AS n_sigs
        FROM sigs GROUP BY media_id
    ), shared AS (
        SELECT sa.media_id AS id_a, sb.media_id AS id_b,
               CAST(COUNT(*) AS BIGINT) AS shared_sigs
        FROM sigs sa JOIN sigs sb
          ON sa.b0 = sb.b0 AND sa.b1 = sb.b1 AND sa.b2 = sb.b2
         AND sa.b3 = sb.b3 AND sa.media_id < sb.media_id
        GROUP BY sa.media_id, sb.media_id
    )"""


def _vdup_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared video near-dup fixture (base clips + planted trimmed /
    brightness variants), materialized once per (process, dataset) —
    consumed by q_video_neardup and by the q_stream_media_ingest topic
    producer (llm18), so both lanes decode the same bytes."""
    d = ensure_parallelism(
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % 3 == 2)
    )

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = did % 13 + 2, did % 11 + 2
                nshots = did % 2 + 2
                a, b = did % 2 + 1, (did // 2) % 2 + 1
                y, x = np.mgrid[0:h, 0:w]
                shot_frames = []
                for s in range(nshots):
                    fr = (a * x + b * y + ((x * (y + s)) % 8) * 4 + 60 * s)
                    reps = (did + 3 * s) % 3 + 2
                    shot_frames.append((s, [fr] * reps))
                base = np.stack(
                    [f for _s, fl in shot_frames for f in fl]
                ).astype(np.uint8)
                rows.append(
                    (f"m{did}", "video",
                     M.encode_avi(base, usec_per_frame=500_000),
                     "avi", None, None, len(base) * 500)
                )
                if did % 10 == 2:
                    # trimmed variant: first shot dropped, rest verbatim
                    trim = np.stack(
                        [f for s, fl in shot_frames if s >= 1 for f in fl]
                    ).astype(np.uint8)
                    rows.append(
                        (f"m{did}t", "video",
                         M.encode_avi(trim, usec_per_frame=500_000),
                         "avi", None, None, len(trim) * 500)
                    )
                if did % 10 == 5:
                    # re-encoded variant: +2 global brightness
                    rows.append(
                        (f"m{did}v", "video",
                         M.encode_avi(base + 2, usec_per_frame=500_000),
                         "avi", None, None, len(base) * 500)
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "media_type", "content", "format",
                    "width", "height", "duration_ms",
                ],
            )

    return _materialized(
        spark, sf_dir, "vdup",
        lambda: d.mapInPandas(_synth, schema=M.MEDIA_SCHEMA),
    )


@register(
    "q_video_neardup",
    oracle=_vdup_oracle(),
    tags=("multimodal", "video", "dedup", "lsh", "scene"),
)
def q_video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-duplicate detection via shot-signature sequences — the
    composition of the two round-10 media lanes: scene-cut shot
    segmentation (multimodal.frame_deltas thresholded at 30/pixel, the
    q_scene_cuts discipline) picks each shot's keyframe, the image
    lane's perceptual dHash (multimodal.video_frame_dhash, shared
    _dhash_bands math) fingerprints it, and clips match when >= 60% of
    the smaller side's DISTINCT shot signatures appear in the other's
    set — robust to trimming (a planted variant drops the first shot
    and still matches at ppm 1000000) and to re-encoding brightness
    shifts (a planted +2-luma variant hashes identically, the dHash
    invariance the image lane pins). The candidate join buckets on the
    full 64-bit signature (the LSH unit — every >= 1-shared-shot pair
    survives; Hamming-tolerant shot matching would swap in the
    q_image_phash_dedup band postings, machinery already built).

    Scale: decode passes are map-only Arrow (bytes cross once per
    batch); shot starts and signatures shuffle O(shots); the signature
    join's pair mass is bounded by bucket agreement, never all-pairs —
    the audio-fingerprint postings shape."""
    vids = _vdup_fixture(spark, sf_dir)

    # ONE decode pass (video_frame_features: deltas + per-frame dHash on
    # the same row), spooled per call so the two shot-start consumers
    # scan it instead of re-running the Arrow stage (exchange reuse fails
    # under divergent pruning — the r4 lesson); the cut row already
    # carries its frame's bands, so there is NO keyframe join at all.
    # (frame_deltas / video_frame_dhash remain the single-purpose ops;
    # value identity with this fused stage is pytest-pinned.)
    from pulsar_lunar_spark.session import scratch_dir

    feat_slot = scratch_dir("pl_vdup_feat", sf_dir)
    M.video_frame_features(vids).filter(F.col("decode_ok")).write.mode(
        "overwrite"
    ).parquet(feat_slot)
    ff = spark.read.parquet(feat_slot)
    # r11 optimization (guide §2.4): shot starts as ONE disjunctive filter
    # (the two union branches were disjoint predicates — same rows, one
    # spool scan instead of two), and n_sigs as a keyed window over the
    # distinct signature table instead of a separate per-clip aggregate
    # re-joined onto the (much larger, ~31 k-row) pair stream twice.
    # Value-identical (exceptAll 0/0 both ways); join phase measured
    # 2.5-4.6 -> 1.0-1.3 s noop, plans/r11/q_video_neardup_{before,after}.
    starts = ff.filter(
        (F.col("frame_index") == 0)
        | (
            (F.col("frame_index") >= 1)
            & (
                F.col("delta_sum")
                > _CUT_PER_PIXEL
                * F.col("width").cast("long")
                * F.col("height")
            )
        )
    )
    from pyspark.sql.window import Window

    sigs = (
        starts.select("media_id", "b0", "b1", "b2", "b3")
        .distinct()
        .withColumn(
            "n_sigs",
            F.count(F.lit(1)).over(Window.partitionBy("media_id")).cast("long"),
        )
    )
    return (
        sigs.alias("sa")
        .join(
            sigs.alias("sb"),
            (F.col("sa.b0") == F.col("sb.b0"))
            & (F.col("sa.b1") == F.col("sb.b1"))
            & (F.col("sa.b2") == F.col("sb.b2"))
            & (F.col("sa.b3") == F.col("sb.b3"))
            & (F.col("sa.media_id") < F.col("sb.media_id")),
        )
        .groupBy(
            F.col("sa.media_id").alias("id_a"),
            F.col("sb.media_id").alias("id_b"),
            F.col("sa.n_sigs").alias("n_sigs_a"),
            F.col("sb.n_sigs").alias("n_sigs_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared_sigs"))
        .select(
            "id_a", "id_b", "shared_sigs", "n_sigs_a", "n_sigs_b",
            F.expr("(1000000 * shared_sigs) div least(n_sigs_a, n_sigs_b)")
            .cast("long")
            .alias("match_ppm"),
        )
        .filter(F.col("match_ppm") >= _VDUP_MATCH_PPM)
        .orderBy("id_a", "id_b")
    )
