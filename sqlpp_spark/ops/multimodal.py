"""Multimodal columns: image/audio/video as opaque binary columns with
typed metadata, processed through Arrow-batched ``mapInPandas``.

Decode is REAL without any third-party image library: PNG payloads go
through the pure-numpy codec in ops/imagecodec.py (chunk walk → zlib
inflate → scanline unfilter), JPEG payloads yield exact
width/height/channels from their SOF marker, and the synthetic SYNM
format parses as before. PIL is used when importable (JPEG pixels,
exotic formats); the ONLY remaining stub boundary is JPEG *pixel*
decode without pillow — geometry is still real, ``decoded=false``
marks the rows, and ``fallback=False`` raises NotImplementedError
there. ``resize_images`` really resamples pixels (nearest/bilinear)
and re-encodes PNG.

Scale notes:
- binary payloads ride the Arrow stream in record batches; keep
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` low (e.g. 256) when
  payloads are MBs so batches fit executor memory
- metadata-only transforms (filtering by width, sampling frames by
  index) should run BEFORE decode so pruning happens on cheap columns
  — the media frame keeps metadata as top-level columns for exactly
  this reason
"""

from __future__ import annotations

import functools
import struct
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

from sqlpp_spark.ops import ensure_parallelism
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

_MAGIC = b"SYNM"  # synthetic media header: MAGIC | u16 w | u16 h | u8 ch


def synthesize_media(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    width: "F.Column | None" = None, height: "F.Column | None" = None,
) -> DataFrame:
    """Build a deterministic synthetic media table from the documents
    fixture: payload = SYNM header + utf8 text bytes. Lets every
    pipeline stage run for real against binary columns. ``width``/
    ``height`` columns override the default crc32-derived geometry —
    SQL-expressible dims make the SYNM rows oracle-able."""
    w = (
        (F.crc32(F.col(text_col)) % 1920 + 16).cast("int")
        if width is None else width.cast("int")
    )
    h = (
        (F.crc32(F.reverse(F.col(text_col))) % 1080 + 16).cast("int")
        if height is None else height.cast("int")
    )
    header = F.concat(
        F.lit(_MAGIC),
        # big-endian u16s via two bytes each
        _u16_bytes(w), _u16_bytes(h), _u8_bytes(F.lit(3)),
    )
    return df.select(
        F.col(id_col).alias("media_id"),
        F.lit("image").alias("kind"),
        F.concat(header, F.encode(F.col(text_col), "UTF-8")).alias("payload"),
        F.lit("image/synthetic").alias("mime"),
        w.alias("width"),
        h.alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )


# ---------------------------------------------------------------------------
# Media families: one per-id encoder per format, one batch loop for all
# ---------------------------------------------------------------------------
#
# Each encoder turns a doc id into one encoded payload; its docstring is
# the family's oracle contract. ``synthesize`` (staged: the payload
# leaves the Python worker) and ``synthesize_and_decode`` (fused: the
# payload is decoded in the same worker pass) run the same batch loop
# over the same encoder, so the two are row-identical by construction.
# The cached constants below are shared by every id in the process, so
# they are read-only.


@functools.cache
def _gray_palette():
    """256-entry RGB palette whose index equals its gray value."""
    import numpy as np

    gray = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1)
    gray.setflags(write=False)
    return gray


@functools.cache
def _tile_grid():
    """(cy, cx) coordinates of the 9x8 dHash tile grid."""
    import numpy as np

    grid = np.mgrid[0:8, 0:9]
    grid.setflags(write=False)
    return grid


@functools.cache
def _webp_lossy_streams() -> tuple[bytes, ...]:
    import base64

    from sqlpp_spark.ops.vp8codec import CONFORMANCE_STREAMS

    return tuple(
        base64.b64decode(CONFORMANCE_STREAMS[k])
        for k in ("noise48_q75", "grad64x80_q40", "mixed33x47_q90")
    )


@functools.cache
def _heif_streams() -> tuple[bytes, ...]:
    import base64

    from sqlpp_spark.ops.mp4box import HEIF_CONFORMANCE_STREAMS

    return tuple(
        base64.b64decode(HEIF_CONFORMANCE_STREAMS[k])
        for k in ("avif_rgb", "avif_alpha", "heic_rgb", "heic_alpha")
    )


def _formula(did: int, shift: int = 0, pad: int = 4):
    """The closed-form gray image most families encode: uint8 pixel
    (x, y) = (x + 3y + id + shift) mod 256 on a w×h canvas,
    w = id%13+pad, h = id%11+pad."""
    import numpy as np

    yy, xx = np.mgrid[0:did % 11 + pad, 0:did % 13 + pad]
    return ((xx + 3 * yy + did + shift) % 256).astype(np.uint8)


def _gradient_rgb(did: int):
    """w×h RGB gradient, w = id%13+9, h = id%11+9: R ramps over x, G
    over y, B = (x + y + id) mod 256."""
    import numpy as np

    w, h = did % 13 + 9, did % 11 + 9
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack(
        [
            (xx * 255 // max(w - 1, 1)),
            (yy * 255 // max(h - 1, 1)),
            ((xx + yy + did) % 256),
        ],
        axis=-1,
    ).astype(np.uint8)


def _png(did: int) -> bytes:
    """REAL PNG payloads with CLOSED-FORM pixel content: per doc, a
    grayscale w×h image with pixel(x, y) = (x + 3y + doc_id) mod 256,
    w = doc_id%13+4, h = doc_id%11+4, encoded by the pure-numpy codec
    inside mapInPandas. Because the pixels are a formula, the decoded
    geometry and EXACT pixel mean are computable in plain SQL — this is
    what lets a DuckDB oracle verify real image decode end-to-end
    (something a corpus of opaque bytes can never offer)."""
    from sqlpp_spark.ops import imagecodec as IC

    return IC.encode_png(_formula(did))


def _png_variants(did: int) -> bytes:
    """CLOSED-FORM pixels through the HARD PNG paths: per doc the
    formula image ((x + 3y + id) mod 256) is encoded rotating (id mod 4)
    through Adam7 interlacing, palette color (the formula's row-0
    values as a 256-entry palette — i.e. a palette image whose
    looked-up gray equals the formula), 16-bit samples (value << 8, so
    mean_byte is mean*256), and the plain baseline — one corpus
    exercising deinterlacing, PLTE lookup and 16-bit unpacking with
    SQL-recomputable decoded stats."""
    import numpy as np

    from sqlpp_spark.ops import imagecodec as IC

    img = _formula(did)
    variant = did % 4
    if variant == 0:
        return IC.encode_png(img, interlace=True)
    if variant == 1:
        # gray palette: palette index == gray value, so the decoded RGB
        # planes all equal the formula
        return IC.encode_png_palette(
            _gray_palette()[img], interlace=did % 2 == 1
        )
    if variant == 2:
        return IC.encode_png(img.astype(np.uint16) << 8, interlace=True)
    return IC.encode_png(img)


def _webp(did: int) -> bytes:
    """REAL WebP (VP8L lossless) payloads with CLOSED-FORM pixels: per
    doc a w×h RGB image with gray value ((x + 3y + id) mod 8) * 36,
    w = id%13+4, h = id%11+4, encoded by ops/webpcodec.py. The encoder
    configuration ROTATES by id mod 6 — plain literals, subtract-green
    + LZ77, packed palette (8 colors → 4-bit pixel bundling), predictor
    transform + color cache, cross-channel color transform + cache +
    LZ77, and a meta-prefix (huffman-image) stream — so ONE SQL oracle
    certifies every inverse-transform decode path at once (all six
    variants decode to the identical formula)."""
    import numpy as np

    from sqlpp_spark.ops import webpcodec as WC

    gray = (_formula(did) % 8) * 36
    img = np.stack([gray, gray, gray], axis=-1)
    variant = did % 6
    if variant == 0:
        return WC.encode_webp_lossless(img, use_lz77=False)
    if variant == 1:
        return WC.encode_webp_lossless(img, subtract_green=True)
    if variant == 2:
        return WC.encode_webp_lossless(img, palette=True)
    if variant == 3:
        return WC.encode_webp_lossless(
            img, predictor_mode=(did // 6) % 14, cache_bits=4
        )
    if variant == 4:
        return WC.encode_webp_lossless(
            img, color_transform=(37, 220, 100), cache_bits=3
        )
    return WC.encode_webp_lossless(img, huffman_bits=2)


def _webp_lossy(did: int) -> bytes:
    """One of the three committed VP8 LOSSY conformance streams per
    doc (rotating by id mod 3). Unlike the lossless synthesizers there
    is no closed pixel formula for a lossy decode, so the oracle
    contract is known-answer: each stream's reconstruction was proven
    BIT-EXACT against the system libwebp (tests/test_vp8_interop.py),
    and the registry oracle pins the decoded geometry and exact pixel
    mean per variant. The three streams cover B_PRED-heavy noise,
    16x16-mode + strong-loop-filter gradients, and odd-geometry
    partial edge macroblocks."""
    return _webp_lossy_streams()[did % 3]


def _heif(did: int) -> bytes:
    """One of the four committed HEIF-family conformance streams per
    doc (id mod 4: AVIF, AVIF+alpha, HEIC grid, HEIC grid+alpha —
    libheif-encoded, property-verified against libheif itself). Like
    the VP8 lossy twin, the oracle contract is known-answer: coded
    AV1/HEVC payloads have no closed pixel form, but their container
    metadata is exact."""
    return _heif_streams()[did % 4]


def _webp_anim(did: int) -> bytes:
    """Animated WebP with CLOSED-FORM frames: per doc, nf = 2 + id%4
    full-canvas RGBA frames whose gray value is
    ((x + 3y + id + 7*frame) mod 256) with opaque alpha, VP8L-coded so
    every composited frame decodes EXACTLY (ANMF no-blend overwrite).
    The oracle recomputes each frame's mean as (3*f + 255)/4 over the
    four channels."""
    import numpy as np

    from sqlpp_spark.ops import webpcodec as WC

    frames = []
    for k in range(2 + did % 4):
        g = _formula(did, 7 * k)
        frames.append(np.dstack([g, g, g, np.full_like(g, 255)]))
    return WC.encode_webp_animated(frames, duration_ms=33)


def _webp_anim_patch(did: int) -> bytes:
    """Animated WebP whose per-frame composites DEPEND ON HISTORY —
    the surface the full-canvas ``webp_anim`` family never exercises
    (its every frame overwrites the whole canvas, so composite k ==
    frame k regardless of compositing correctness). Per doc: canvas
    W=id%13+8, H=id%11+8, base frame of constant gray b=id%256
    (opaque), then nf-1 = 1+id%3 VERTICAL STRIP patches (width 2,
    full height, at x=2(k-1) — even offsets, never overlapping) of
    constant gray g_k=(id+41k)%256.

    EVEN ids: no-blend strips with dispose-to-background on every
    frame — composite 0 is the base, composite k>=1 is ONLY strip k
    on a cleared (transparent black) canvas. ODD ids: alpha-128
    strips blended src-OVER-dst onto the opaque base, no dispose —
    composite k carries strips 1..k with the blended value
    v_j = (128*g_j + 127*b) // 255 (exact integer, alpha stays 255).
    Both paths have closed-form four-channel frame means the oracle
    recomputes in SQL."""
    import numpy as np

    from sqlpp_spark.ops import webpcodec as WC

    w, h = did % 13 + 8, did % 11 + 8
    base = np.full((h, w, 4), 255, np.uint8)
    base[..., :3] = did % 256
    frames, offsets = [base], [(0, 0)]
    for k in range(1, 2 + did % 3):
        strip = np.full((h, 2, 4), 255 if did % 2 == 0 else 128, np.uint8)
        strip[..., :3] = (did + 41 * k) % 256
        frames.append(strip)
        offsets.append((2 * (k - 1), 0))
    return WC.encode_webp_animated(
        frames, duration_ms=33, offsets=offsets,
        dispose=(did % 2 == 0), blend=(did % 2 == 1),
    )


def _gif(did: int) -> bytes:
    """REAL GIF payloads with CLOSED-FORM pixels: the formula image
    ((x + 3y + id) mod 256) indexed through a gray palette (so every
    decoded RGB channel equals the formula), interlaced on odd ids,
    with a second identical frame on ids % 3 == 0 (first-frame decode
    must ignore it). SQL recomputes geometry and the exact mean."""
    from sqlpp_spark.ops import gifcodec as GC

    return GC.encode_gif(
        _gray_palette()[_formula(did)], interlace=did % 2 == 1,
        loop_frames=2 if did % 3 == 0 else 1,
    )


def _bmp(did: int) -> bytes:
    """REAL BMP payloads with CLOSED-FORM pixels — the formula image
    through a gray palette, rotating 8-bit plain / 8-bit RLE8 /
    24-bit / top-down variants by id, all decoding to the same
    SQL-recomputable stats."""
    from sqlpp_spark.ops import bmpcodec as BC

    gray, idx = _gray_palette(), _formula(did)
    variant = did % 4
    if variant == 0:
        return BC.encode_bmp(idx, palette=gray)
    if variant == 1:
        return BC.encode_bmp(idx, palette=gray, rle=True)
    if variant == 2:
        return BC.encode_bmp(gray[idx])
    return BC.encode_bmp(gray[idx], top_down=True)


def _tiff(did: int) -> bytes:
    """REAL TIFF payloads with CLOSED-FORM pixels — formula grayscale
    rotating through uncompressed / TIFF-LZW / PackBits compression,
    II / MM byte orders and multi-strip layouts by id."""
    from sqlpp_spark.ops import tiffcodec as TC

    return TC.encode_tiff(
        _formula(did),
        compression=(1, 5, 32773)[did % 3],
        byte_order="II" if did % 2 == 0 else "MM",
        rows_per_strip=3 + did % 5,
    )


def _video(did: int) -> bytes:
    """REAL video-modality payloads: animated GIFs whose frame f has
    CLOSED-FORM pixels ((x + 3y + id + 7f) mod 256 through a gray
    palette), 2 + id%4 frames each, interlaced on odd ids — so frame
    EXTRACTION (not just metadata sampling) is SQL-verifiable."""
    from sqlpp_spark.ops import gifcodec as GC

    frames = [
        _gray_palette()[_formula(did, 7 * f)] for f in range(2 + did % 4)
    ]
    return GC.encode_gif_animated(frames, interlace=did % 2 == 1)


def _tile_image(v):
    """A 9x8 tile-value grid upscaled to 2x2 constant tiles (18x16 px)."""
    import numpy as np

    return np.kron(v, np.ones((2, 2), np.int64)).astype(np.uint8)


def _tile(did: int) -> bytes:
    """Tiled grayscale PNGs whose dHash is CLOSED-FORM: the image is
    a 9x8 grid of 2x2 constant tiles (18x16 px), tile (cx, cy) value
    (7*id + 17*cx + 29*cy) % 256 — block averages equal tile values,
    so the oracle recomputes the exact 64-bit hash in SQL."""
    from sqlpp_spark.ops import imagecodec as IC

    cy, cx = _tile_grid()
    return IC.encode_png(
        _tile_image((7 * did + 17 * cx + 29 * cy) % 256), level=1
    )


def _tile_near_dups(did: int) -> bytes:
    """The ``tile`` family in hamming-close clusters: base = id // 4
    (4-member groups share an image) replaces id in the tile formula,
    and members with id % 4 != 0 invert ONE tile (cy = id*5 % 8,
    cx = id*3 % 9) to 255 - v — deterministic clusters (<= 2 bits vs
    base, <= 4 within group)."""
    from sqlpp_spark.ops import imagecodec as IC

    cy, cx = _tile_grid()
    v = (7 * (did // 4) + 17 * cx + 29 * cy) % 256
    if did % 4 != 0:
        py, px = (did * 5) % 8, (did * 3) % 9
        v[py, px] = 255 - v[py, px]
    return IC.encode_png(_tile_image(v), level=1)


def _tile_anim(did: int) -> bytes:
    """Animated WebP whose per-frame dHash is CLOSED-FORM: nf =
    2 + id%3 full-canvas frames, each a 9x8 grid of 2x2 tiles with
    value (7*id + 11*k + 17*cx + 29*cy) % 256 (k the frame index) —
    the video twin of the ``tile`` family."""
    import numpy as np

    from sqlpp_spark.ops import webpcodec as WC

    cy, cx = _tile_grid()
    frames = []
    for k in range(2 + did % 3):
        g = _tile_image((7 * did + 11 * k + 17 * cx + 29 * cy) % 256)
        frames.append(np.dstack([g, g, g, np.full_like(g, 255)]))
    return WC.encode_webp_animated(frames, duration_ms=33)


def _audio_tile_clip(did: int, v) -> bytes:
    """65 block values → 4 PCM16 samples per block, WAV on even ids and
    FLAC on odd ids."""
    import numpy as np

    from sqlpp_spark.ops.audiocodec import WAVE_PCM, write_wav
    from sqlpp_spark.ops.flaccodec import encode_flac

    samples = np.repeat(v, 4).astype(np.int16)
    if did % 2 == 0:
        return write_wav(samples, 8000, WAVE_PCM)
    return encode_flac(samples, 8000)


def _audio_tile(did: int) -> bytes:
    """Audio clips whose fingerprint is CLOSED-FORM: 65 blocks of 4
    constant PCM16 samples, block value (7*id + 37*blk) % 1000 -
    500, so block energy is exactly 4v². EVEN docs ship as WAV PCM16,
    ODD docs as FLAC (lossless — identical samples, identical
    fingerprint), so the oracle entry exercises BOTH decode paths
    under one codec-agnostic SQL oracle."""
    import numpy as np

    return _audio_tile_clip(did, (7 * did + 37 * np.arange(65)) % 1000 - 500)


def _audio_tile_near_dups(did: int) -> bytes:
    """The ``audio_tile`` family in hamming-close clusters: base =
    id//4 replaces id in the block formula, and members id%4 != 0 add
    +300 to ONE block (blk = id*5 % 65) — deterministic distances."""
    import numpy as np

    v = (7 * (did // 4) + 37 * np.arange(65)) % 1000 - 500
    if did % 4 != 0:
        v[(did * 5) % 65] += 300
    return _audio_tile_clip(did, v)


def _jpeg_lossless(did: int) -> bytes:
    """REAL lossless-JPEG (SOF3) payloads with CLOSED-FORM pixels —
    same formula as the ``png`` family ((x + 3y + id) mod 256),
    encoded with the predictive lossless codec (predictor 1 + id%7).
    Because SOF3 is bit-exact, the decoded MEAN is SQL-recomputable —
    full pixel verification for a real JPEG family (lossy DCT JPEGs
    can only oracle geometry)."""
    from sqlpp_spark.ops import imagecodec as IC

    return IC.encode_jpeg_lossless(_formula(did), predictor=1 + did % 7)


def _jpeg(did: int) -> bytes:
    """REAL JPEG payloads per doc: a w×h RGB gradient with
    w = doc_id%13+9, h = doc_id%11+9, encoded by the pure-numpy codec
    in mapInPandas — coding family by id parity (baseline even,
    progressive odd), subsampling rotating through 4:2:0/4:2:2/4:4:4
    by id mod 3, so ONE corpus exercises every decode path the codec
    ships, including SOF2 spectral selection + successive
    approximation. JPEG is lossy so the decoded mean is not
    SQL-recomputable, but the decoded GEOMETRY and the decode-success
    flag are — a hash-green oracle row proves the corresponding
    entropy-decode paths run and recover exact dimensions."""
    from sqlpp_spark.ops import imagecodec as IC

    enc = IC.encode_jpeg_progressive if did % 2 == 1 else IC.encode_jpeg
    return enc(
        _gradient_rgb(did), quality=85,
        subsampling=("420", "422", "444")[did % 3],
    )


def _mp4(did: int) -> bytes:
    """REAL ISO-BMFF (MP4) container payloads with CLOSED-FORM box
    content: per doc_id a minimal valid stream (ftyp + mvhd + one avc1
    video trak + mdat) whose geometry, sample table and keyframe
    spacing are formulas of the id — so container-metadata extraction
    (the pruning/planning step before any H.264 decode) is fully
    SQL-verifiable. Odd ids use the 64-bit (version 1) box forms."""
    from sqlpp_spark.ops.mp4box import encode_mp4

    return encode_mp4(
        width=did % 13 + 16, height=did % 11 + 16,
        n_samples=did % 29 + 2, sample_delta=40,
        keyframe_every=did % 5 + 1, timescale=1000,
        version=did % 2,
    )


def _flac(did: int) -> bytes:
    """FLAC headers with CLOSED-FORM STREAMINFO fields per doc_id:
    sample rate rotates 8000/16000/22050/44100, channels 1-2, bit
    depth 16/20/24, total samples (id%97+1)*1000 — so container-
    metadata extraction is SQL-verifiable (frame decode remains the
    documented codec boundary, as for MP4/H.264)."""
    from sqlpp_spark.ops.audiocodec import write_flac_header

    return write_flac_header(
        sample_rate=(8000, 16000, 22050, 44100)[did % 4],
        channels=did % 2 + 1,
        bits_per_sample=(did % 3) * 4 + 16,
        total_samples=(did % 97 + 1) * 1000,
    )


def _ogg(did: int) -> bytes:
    """Ogg Opus streams with CLOSED-FORM container content per doc_id
    (channels, pre-skip, informational rate, frame count — granules
    cumulative in 48 kHz units, real page CRCs) so metadata extraction
    is SQL-verifiable; packet payloads are stubs (SILK/CELT frame
    decode is the documented boundary)."""
    from sqlpp_spark.ops.oggcodec import encode_ogg_opus

    return encode_ogg_opus(
        channels=did % 2 + 1,
        pre_skip=312 + did % 50,
        input_rate=(8000, 16000, 24000, 48000)[did % 4],
        n_frames=did % 25 + 1,
    )


def _exif(did: int) -> bytes:
    """JPEG payloads (real baseline encode of the formula image on a
    w = id%13+9, h = id%11+9 canvas) carrying CLOSED-FORM EXIF APP1
    segments: orientation rotates 1-8, camera make cycles 5 values,
    capture date walks January 2026 — so EXIF extraction (the
    prune/correct step before decode) is SQL-verifiable."""
    import numpy as np

    from sqlpp_spark.ops import imagecodec as IC
    from sqlpp_spark.ops.exif import build_exif_tiff, insert_exif_app1

    img = _formula(did, pad=9)
    ex = build_exif_tiff(
        orientation=did % 8 + 1,
        make=f"Cam{did % 5}",
        datetime_str=f"2026:01:{did % 28 + 1:02d} 00:00:00",
        pixel_x=img.shape[1], pixel_y=img.shape[0],
    )
    return insert_exif_app1(IC.encode_jpeg(np.stack([img] * 3, axis=-1)), ex)


def _mp3(did: int) -> bytes:
    """MPEG1 Layer III streams with CLOSED-FORM header content per
    doc_id: bitrate rotates 64/128/192/320, samplerate 44100/48000/
    32000, frame count 1-40, mono on odd ids, an ID3v2 tag on 4 of 5
    ids — so the frame walk (sync, tables, lengths, ID3 skip) is
    SQL-verifiable. Frame payloads are zeroed (decode boundary)."""
    from sqlpp_spark.ops.mp3box import encode_mp3

    return encode_mp3(
        n_frames=did % 40 + 1,
        bitrate_kbps=(64, 128, 192, 320)[did % 4],
        samplerate=(44100, 48000, 32000)[did % 3],
        mono=did % 2 == 1,
        id3_size=(did % 5) * 16,
    )


MEDIA_FAMILIES: dict[str, Callable[[int], bytes]] = {
    "png": _png,
    "png_variants": _png_variants,
    "webp": _webp,
    "webp_lossy": _webp_lossy,
    "heif": _heif,
    "webp_anim": _webp_anim,
    "webp_anim_patch": _webp_anim_patch,
    "gif": _gif,
    "bmp": _bmp,
    "tiff": _tiff,
    "video": _video,
    "tile": _tile,
    "tile_near_dups": _tile_near_dups,
    "tile_anim": _tile_anim,
    "audio_tile": _audio_tile,
    "audio_tile_near_dups": _audio_tile_near_dups,
    "jpeg_lossless": _jpeg_lossless,
    "jpeg": _jpeg,
    "mp4": _mp4,
    "flac": _flac,
    "ogg": _ogg,
    "exif": _exif,
    "mp3": _mp3,
}


def _synth_batches(family: str):
    """Per-batch synthesis closure over ``documents.doc_id``: one
    (media_id, payload) row per id, encoded by the family's entry in
    ``MEDIA_FAMILIES``."""
    if family not in MEDIA_FAMILIES:
        raise ValueError(f"unknown media family {family!r}")
    encode = MEDIA_FAMILIES[family]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [int(d) for d in pdf["doc_id"]]
            yield pd.DataFrame({
                "media_id": ids,
                "payload": [encode(d) for d in ids],
            })

    return gen


def synthesize(df: DataFrame, family: str) -> DataFrame:
    """Deterministic encoded media per document: ``df.doc_id`` in,
    ``media_id long, payload binary`` out, one Arrow-batched
    mapInPandas stage. ``family`` names an entry of ``MEDIA_FAMILIES``;
    its encoder's docstring states the payload contract the registry
    oracle recomputes."""
    return ensure_parallelism(df.select("doc_id")).mapInPandas(
        _synth_batches(family), "media_id long, payload binary"
    )


def synthesize_and_decode(df: DataFrame, family: str) -> DataFrame:
    """FUSED ``decode_image(synthesize(df, family))`` in ONE mapInPandas
    stage (guide §4.1, §4.3 — the r19 WARC-fusion shape,
    OPTIMIZATION_r19.md #10/#12). The staged composition runs two
    chained Python stages with no shuffle between them, so every
    encoded payload crosses the JVM↔Python Arrow boundary twice for
    zero replanning benefit. Here the payload is born and decoded
    inside one Python worker pass: only ``doc_id`` crosses inbound and
    the small FEATURE_SCHEMA rows cross outbound.

    Row-identity with the staged path is by construction — the same
    per-batch encode closure and the same per-batch decode body
    (``_decode_pdf``) composed 1:1 — and is pinned per family by
    tests/test_multimodal.py::test_fused_synth_decode_identical."""
    gen = _synth_batches(family)

    def fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in gen(batches):
            yield _decode_pdf(pdf, fallback=True)

    return ensure_parallelism(df.select("doc_id")).mapInPandas(
        fused, FEATURE_SCHEMA
    )


def image_near_duplicates(
    df: DataFrame, max_hamming: int = 6,
) -> DataFrame:
    """Perceptual image dedup (r12): dHash fingerprints + the banded
    pigeonhole hamming join (ops.dedup.hamming_near_duplicates — the
    machinery text simhash uses, over 64-bit image hashes). The
    signature frame persists MEMORY_AND_DISK (8-byte hashes + ids —
    tiny at any scale) so the expensive decode runs once, not once
    per self-join side; only (id, hash) rows ever shuffle. Returns
    (id_a, id_b, hamming), hamming <= max_hamming."""
    from pyspark import StorageLevel

    from sqlpp_spark.ops.dedup import hamming_near_duplicates

    sigs = (
        image_dhash(df)
        .filter(F.col("decoded"))
        .select("media_id", "dhash")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sigs.count()  # eager: both self-join sides read it
    out = hamming_near_duplicates(
        sigs, sig_col="dhash", id_col="media_id",
        bits=64, max_hamming=max_hamming,
    )
    out._sqlpp_persisted = [sigs]
    return out


def _dhash64(arr) -> int:
    """64-bit difference hash of a decoded image array — the standard
    perceptual-dedup primitive (aHash/dHash family): integer
    grayscale, block-average onto a 9x8 grid, bit (y,x) set when
    avg[y][x] > avg[y][x+1]. Every step is integer floor arithmetic
    (// block areas) so a SQL oracle can recompute the hash exactly
    on closed-form images; block boundaries are floor(j*W/9) /
    floor(i*H/8), exact when the dimensions divide and deterministic
    when they don't. Returns the packed bits as a SIGNED int64 (bit
    i = y*8 + x), the natural Spark LongType carrier."""
    import numpy as np

    a = np.asarray(arr)
    if a.ndim == 3:
        ch = a.shape[2]
        rgb = a[..., : min(ch, 3)].astype(np.int64)
        gray = rgb.sum(axis=2) // rgb.shape[2]
    else:
        gray = a.astype(np.int64)
    h, w = gray.shape
    if h < 8 or w < 9:
        raise ValueError(f"image {w}x{h} too small for a 9x8 dhash grid")
    by = (np.arange(9) * h) // 8
    bx = (np.arange(10) * w) // 9
    sums = np.add.reduceat(
        np.add.reduceat(gray, by[:-1], axis=0), bx[:-1], axis=1
    )
    areas = np.outer(np.diff(by), np.diff(bx))
    avg = sums // areas
    bits = (avg[:, :-1] > avg[:, 1:]).astype(np.uint64).ravel()
    val = (bits << np.arange(64, dtype=np.uint64)).sum(dtype=np.uint64)
    return int(val.astype(np.int64))


def image_dhash(df: DataFrame) -> DataFrame:
    """Per-image 64-bit dHash over a (media_id, payload) frame —
    the fingerprint stage of image dedup (r12). Decodes PNG / WebP /
    GIF (first frame) / BMP through the conformance-tested codecs;
    other payloads yield decoded=false. Output: (media_id, dhash
    long, dhash_hex 16-char string, decoded). Embarrassingly
    parallel Arrow-batched mapInPandas — no shuffle; pair finding is
    a separate banded join (ops.dedup.hamming_near_duplicates), so
    at 100 TB only (id, 8-byte hash) rows ever move."""
    schema = (
        "media_id long, dhash long, dhash_hex string, decoded boolean"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from sqlpp_spark.ops import imagecodec as IC
        from sqlpp_spark.ops.bmpcodec import BmpCodecError, decode_bmp
        from sqlpp_spark.ops.gifcodec import GifCodecError, decode_gif_frames
        from sqlpp_spark.ops.webpcodec import WebpCodecError, decode_webp

        for pdf in batches:
            out = {"media_id": [], "dhash": [], "dhash_hex": [],
                   "decoded": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                arr = None
                try:
                    if b[:8] == IC.PNG_SIGNATURE:
                        arr = IC.decode_png(b)
                    elif b[:4] == b"RIFF" and b[8:12] == b"WEBP":
                        arr = decode_webp(b)
                    elif b[:6] in (b"GIF87a", b"GIF89a"):
                        arr = decode_gif_frames(b, 1)[0]
                    elif b[:2] == b"BM":
                        arr = decode_bmp(b)
                except (IC.ImageCodecError, WebpCodecError,
                        GifCodecError, BmpCodecError):
                    arr = None
                if arr is None or arr.shape[0] < 8 or arr.shape[1] < 9:
                    out["media_id"].append(mid)
                    out["dhash"].append(0)
                    out["dhash_hex"].append("0" * 16)
                    out["decoded"].append(False)
                    continue
                hv = _dhash64(arr)
                out["media_id"].append(mid)
                out["dhash"].append(hv)
                out["dhash_hex"].append(
                    format(int(np.uint64(np.int64(hv))), "016x")
                )
                out["decoded"].append(True)
            yield pd.DataFrame(out)

    return ensure_parallelism(
        df.select("media_id", "payload")
    ).mapInPandas(run, schema)


def video_fingerprint(df: DataFrame) -> DataFrame:
    """Per-VIDEO dedup fingerprint (r12): decode every composited
    frame of an animated GIF/WebP payload, dHash each frame, and
    digest the ordered hex sequence with MD5 — an order-sensitive
    whole-video signature (two clips match iff every composited frame
    perceptually matches in order). Output: (media_id, n_frames,
    video_fp, decoded). Arrow-batched mapInPandas, zero shuffle; an
    exact-dup groupBy on video_fp shuffles 16-byte digests only."""
    schema = (
        "media_id long, n_frames long, video_fp string, decoded boolean"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import numpy as np

        from sqlpp_spark.ops.gifcodec import GifCodecError, decode_gif_frames
        from sqlpp_spark.ops.webpcodec import (
            WebpCodecError, decode_webp_frames,
        )

        for pdf in batches:
            out = {"media_id": [], "n_frames": [], "video_fp": [],
                   "decoded": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                frames = None
                try:
                    if b[:6] in (b"GIF87a", b"GIF89a"):
                        frames = decode_gif_frames(b)
                    elif b[:4] == b"RIFF" and b[8:12] == b"WEBP":
                        frames = decode_webp_frames(b)
                except (GifCodecError, WebpCodecError):
                    frames = None
                if not frames or any(
                    f.shape[0] < 8 or f.shape[1] < 9 for f in frames
                ):
                    out["media_id"].append(mid)
                    out["n_frames"].append(0)
                    out["video_fp"].append("")
                    out["decoded"].append(False)
                    continue
                seq = "".join(
                    format(int(np.uint64(np.int64(_dhash64(f)))), "016x")
                    for f in frames
                )
                out["media_id"].append(mid)
                out["n_frames"].append(len(frames))
                out["video_fp"].append(
                    hashlib.md5(seq.encode("ascii")).hexdigest()
                )
                out["decoded"].append(True)
            yield pd.DataFrame(out)

    return ensure_parallelism(
        df.select("media_id", "payload")
    ).mapInPandas(run, schema)


def _audio_fp64(samples, channels: int = 1) -> int:
    """64-bit audio fingerprint: integer channel-mean, 65 equal
    time blocks (floor boundaries), per-block energy Σx², bit i set
    when energy[i] > energy[i+1] — the temporal-gradient analogue of
    the image dHash, all-integer so a SQL oracle can replay it
    exactly on closed-form synthetic audio. Returns packed bits as a
    signed int64 (bit i = block-gradient i)."""
    import numpy as np

    s = np.asarray(samples, dtype=np.int64)
    if channels > 1:
        s = s[: (s.size // channels) * channels]
        s = s.reshape(-1, channels).sum(axis=1) // channels
    n = s.size
    if n < 65:
        raise ValueError(f"{n} samples too few for 65 energy blocks")
    b = (np.arange(66) * n) // 65
    e = np.add.reduceat(s * s, b[:-1])
    bits = (e[:-1] > e[1:]).astype(np.uint64)
    val = (bits << np.arange(64, dtype=np.uint64)).sum(dtype=np.uint64)
    return int(val.astype(np.int64))


def audio_fingerprint(df: DataFrame) -> DataFrame:
    """Per-clip 64-bit audio fingerprint over a (media_id, payload)
    frame — the audio-dedup analogue of image_dhash (r12). WAV
    (PCM/G.711/IMA-ADPCM) decodes through ops.audiocodec, FLAC
    through the RFC 9639 decoder; the two agree bit-for-bit on the
    same samples because FLAC is lossless, which the oracle entry
    exploits by alternating containers per doc. Other payloads yield
    decoded=false. Zero shuffle; pair finding is the shared banded
    hamming join."""
    schema = (
        "media_id long, afp long, afp_hex string, decoded boolean"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from sqlpp_spark.ops.audiocodec import AudioCodecError, decode_wav
        from sqlpp_spark.ops.flaccodec import FlacError, decode_flac

        for pdf in batches:
            out = {"media_id": [], "afp": [], "afp_hex": [],
                   "decoded": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                samples = ch = None
                try:
                    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
                        samples, _rate, ch = decode_wav(b)
                    elif b[:4] == b"fLaC":
                        arr, _rate, _bps = decode_flac(b)
                        samples, ch = arr.reshape(-1), arr.shape[1]
                except (AudioCodecError, FlacError):
                    samples = None
                if samples is None or samples.size < 65 * (ch or 1):
                    out["media_id"].append(mid)
                    out["afp"].append(0)
                    out["afp_hex"].append("0" * 16)
                    out["decoded"].append(False)
                    continue
                hv = _audio_fp64(samples, ch)
                out["media_id"].append(mid)
                out["afp"].append(hv)
                out["afp_hex"].append(
                    format(int(np.uint64(np.int64(hv))), "016x")
                )
                out["decoded"].append(True)
            yield pd.DataFrame(out)

    return ensure_parallelism(
        df.select("media_id", "payload")
    ).mapInPandas(run, schema)


def audio_near_duplicates(
    df: DataFrame, max_hamming: int = 6,
) -> DataFrame:
    """Audio dedup by fingerprint hamming (r12): the same banded
    pigeonhole join image/text dedup use, over audio fingerprints.
    Returns (id_a, id_b, hamming)."""
    from pyspark import StorageLevel

    from sqlpp_spark.ops.dedup import hamming_near_duplicates

    sigs = (
        audio_fingerprint(df)
        .filter(F.col("decoded"))
        .select("media_id", "afp")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sigs.count()  # eager: both self-join sides read it
    out = hamming_near_duplicates(
        sigs, sig_col="afp", id_col="media_id",
        bits=64, max_hamming=max_hamming,
    )
    out._sqlpp_persisted = [sigs]
    return out


FRAME_SCHEMA = (
    "media_id long, frame_idx int, width int, height int, "
    "mean_byte double, decoded boolean"
)


def extract_video_frames(
    df: DataFrame, every_n: int = 1, max_frames: int | None = None,
) -> DataFrame:
    """REAL frame extraction for the video modality: decode every
    ``every_n``-th frame of animated-GIF or animated-WebP payloads
    (ANMF compositing over the canvas, frames VP8L or VP8+ALPH)
    through the standard Arrow-batched mapInPandas shape — the decode
    step ``frame_sample_indices`` (metadata-only planning) feeds at
    scale. Other containers yield one decoded=false row (MP4/WebM
    need ffmpeg — that boundary stands)."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from sqlpp_spark.ops.gifcodec import GifCodecError, decode_gif_frames
        from sqlpp_spark.ops.webpcodec import (
            WebpCodecError, decode_webp_frames,
        )

        for pdf in batches:
            out = {
                "media_id": [], "frame_idx": [], "width": [], "height": [],
                "mean_byte": [], "decoded": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                frames = None
                # max_frames bounds EMITTED (sampled) frames; the last
                # sampled source index is (max_frames-1)*every_n, so
                # decode exactly that many + 1 — no wasted decode work
                # on frames the stride below can never emit.
                decode_cap = (
                    None if max_frames is None
                    else (max_frames - 1) * every_n + 1
                )
                if b[:6] in (b"GIF87a", b"GIF89a"):
                    try:
                        frames = decode_gif_frames(b, decode_cap)
                    except GifCodecError:
                        frames = None
                elif b[:4] == b"RIFF" and b[8:12] == b"WEBP":
                    try:
                        frames = decode_webp_frames(b, decode_cap)
                    except WebpCodecError:
                        frames = None
                if frames is None:
                    out["media_id"].append(mid)
                    out["frame_idx"].append(-1)
                    out["width"].append(0)
                    out["height"].append(0)
                    out["mean_byte"].append(0.0)
                    out["decoded"].append(False)
                    continue
                for i in range(0, len(frames), every_n):
                    arr = frames[i]
                    out["media_id"].append(mid)
                    out["frame_idx"].append(i)
                    out["width"].append(arr.shape[1])
                    out["height"].append(arr.shape[0])
                    out["mean_byte"].append(float(arr.mean()))
                    out["decoded"].append(True)
            yield pd.DataFrame(out)

    return ensure_parallelism(df.select("media_id", "payload")).mapInPandas(
        extract, FRAME_SCHEMA
    )


def jpeg_arith_equivalence(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per doc: encode the closed-form gradient image BOTH as an
    arithmetic-coded JPEG (SOF9, T.81 Annexes D & F) and as the
    Huffman baseline, decode both with the pure-numpy codec, and
    report whether the pixels are bit-identical. The two encoders
    share ``_quantize_image`` (identical quantized coefficients), so
    identical=1 holds iff the QM entropy decode is COEFFICIENT-EXACT —
    the property the round-10 Qe-table transcription bug silently
    broke while self-round-trips stayed green. One scan-stage
    mapInPandas pass; nothing but the tiny result rows move."""
    import numpy as np

    from sqlpp_spark.ops import imagecodec as IC

    schema = (
        "media_id long, width int, height int, identical long, decoded long"
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        subs = ("420", "422", "444")
        for pdf in batches:
            out = {k: [] for k in
                   ("media_id", "width", "height", "identical", "decoded")}
            for did in pdf[id_col]:
                did = int(did)
                img = _gradient_rgb(did)
                sub = subs[did % 3]
                rst = 3 if did % 5 == 0 else 0  # restart-marker path too
                try:
                    pa = IC.decode_jpeg(IC.encode_jpeg_arithmetic(
                        img, quality=85, subsampling=sub,
                        restart_interval=rst,
                    ))
                    ph = IC.decode_jpeg(IC.encode_jpeg(
                        img, quality=85, subsampling=sub,
                        restart_interval=rst,
                    ))
                    ident = int(np.array_equal(pa, ph))
                    dh, dw = pa.shape[:2]
                    dec = 1
                except IC.ImageCodecError:
                    ident, dec, dh, dw = 0, 0, 0, 0
                out["media_id"].append(did)
                out["width"].append(dw)
                out["height"].append(dh)
                out["identical"].append(ident)
                out["decoded"].append(dec)
            yield pd.DataFrame(out)

    return ensure_parallelism(df.select(id_col)).mapInPandas(gen, schema)


def _u16_bytes(c):
    hi = (c / F.lit(256)).cast("int") % 256
    lo = c % 256
    return F.concat(_u8_bytes(hi), _u8_bytes(lo))


def _u8_bytes(c):
    # one byte via unhex of two hex digits
    return F.unhex(F.lpad(F.conv(c.cast("string"), 10, 16), 2, "0"))


try:  # guarded import: pillow is absent from this container
    from PIL import Image as _PILImage

    HAS_PIL = True
except ImportError:  # pragma: no cover - exercised when pillow installed
    _PILImage = None
    HAS_PIL = False


FEATURE_SCHEMA = (
    "media_id long, width int, height int, channels int, "
    "payload_bytes long, mean_byte double, decoded boolean"
)


def _is_lossless_jpeg(b: bytes) -> bool:
    from sqlpp_spark.ops import imagecodec as IC

    try:
        return IC.jpeg_sof_marker(b) == 0xC3
    except IC.ImageCodecError:
        return False


def _decode_one(b: bytes, fallback: bool):
    """One payload → (w, h, ch, mean_byte, decoded). Pure function so
    both the Spark batch iterator and tests share the dispatch."""
    import io

    import numpy as np

    from sqlpp_spark.ops import imagecodec as IC

    if len(b) >= 9 and b[:4] == _MAGIC:
        w, h = struct.unpack(">HH", b[4:8])
        ch = b[8]
        body = np.frombuffer(b, dtype=np.uint8)[9:]
        return w, h, ch, (float(body.mean()) if body.size else 0.0), True
    if b[:8] == IC.PNG_SIGNATURE:
        try:
            arr = IC.decode_png(b)
            h, w, ch = arr.shape
            return w, h, ch, float(arr.mean()), True
        except IC.ImageCodecError:
            if not HAS_PIL and not fallback:
                raise
            # fall through to PIL / raw-stats path below
    if b[:3] == IC.JPEG_SIGNATURE and (
        not HAS_PIL or _is_lossless_jpeg(b)
    ):
        # real decode (pure-numpy Huffman + IDCT + predictive), all
        # three supported families. With pillow present only SOF3
        # routes here — libjpeg cannot decode lossless JPEG, so the
        # native codec must run for it regardless of the fast path.
        # Arithmetic/hierarchical/12-bit DCT streams keep the REAL
        # SOF geometry with decoded=false
        try:
            arr = IC.decode_jpeg(b)
            h, w, ch = arr.shape
            return w, h, ch, float(arr.mean()), True
        except IC.ImageCodecError:
            pass
        if not fallback:
            raise NotImplementedError(
                "arithmetic/lossless JPEG pixel decode requires pillow; "
                "SOF geometry is available via fallback=True"
            )
        try:
            w, h, ch = IC.jpeg_info(b)
        except IC.ImageCodecError:
            w = h = ch = 0
        raw = np.frombuffer(b, dtype=np.uint8)
        return w, h, ch, (float(raw.mean()) if raw.size else 0.0), False
    if b[:4] in (b"II*\x00", b"MM\x00*"):
        from sqlpp_spark.ops.tiffcodec import TiffCodecError, decode_tiff

        try:
            arr = decode_tiff(b)
            h, w, ch = arr.shape
            return w, h, ch, float(arr.mean()), True
        except TiffCodecError:
            if not HAS_PIL and not fallback:
                raise
    if b[:2] == b"BM":
        from sqlpp_spark.ops.bmpcodec import BmpCodecError, decode_bmp

        try:
            arr = decode_bmp(b)
            h, w, ch = arr.shape
            return w, h, ch, float(arr.mean()), True
        except BmpCodecError:
            if not HAS_PIL and not fallback:
                raise
    if b[:6] in (b"GIF87a", b"GIF89a"):
        from sqlpp_spark.ops.gifcodec import GifCodecError, decode_gif

        try:
            arr = decode_gif(b)
            h, w, ch = arr.shape
            return w, h, ch, float(arr.mean()), True
        except GifCodecError:
            if not HAS_PIL and not fallback:
                raise
            # fall through to PIL / raw-stats path below
    if b[:4] == b"RIFF" and b[8:12] == b"WEBP":
        from sqlpp_spark.ops.webpcodec import WebpCodecError, decode_webp

        try:
            arr = decode_webp(b)
            h, w, ch = arr.shape
            return w, h, ch, float(arr.mean()), True
        except WebpCodecError:
            # decode_webp covers VP8L, VP8 lossy (+ALPH alpha) and the
            # first frame of animations (r11); genuinely malformed
            # payloads fall through like the other codecs
            if not HAS_PIL and not fallback:
                raise
    if HAS_PIL:
        try:
            img = _PILImage.open(io.BytesIO(b))
            w, h = img.size
            arr = np.asarray(img)
            ch = arr.shape[2] if arr.ndim == 3 else 1
            return w, h, ch, (float(arr.mean()) if arr.size else 0.0), True
        except Exception:
            pass
    if not fallback:
        raise NotImplementedError("undecodable payload (no known format)")
    raw = np.frombuffer(b, dtype=np.uint8)
    return 0, 0, 0, (float(raw.mean()) if raw.size else 0.0), False


def decode_image(df: DataFrame, fallback: bool = True) -> DataFrame:
    """REAL decoder path in the Arrow-batched mapInPandas shape —
    (media_id, payload) in, FEATURE_SCHEMA out, one pandas batch per
    Arrow record batch. Per-payload dispatch:

    - SYNM synthetic header → parsed directly (mixed corpora work)
    - PNG → pure-numpy codec (ops/imagecodec.py): real pixels, real
      mean, no pillow needed
    - JPEG → pure-numpy decode, BASELINE and PROGRESSIVE (canonical
      Huffman + IDCT + T.81 G.2 scan accumulation,
      ops/imagecodec.decode_jpeg): real pixels without pillow;
      arithmetic/lossless streams keep REAL SOF geometry with
      ``decoded=false`` (``fallback=False`` raises — that is the
      remaining pillow/ffmpeg boundary)
    - anything else → PIL when available, else zeroed metadata with
      raw byte stats and ``decoded=false``
    """

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _decode_pdf(pdf, fallback)

    return ensure_parallelism(df.select("media_id", "payload")).mapInPandas(
        decode_batches, FEATURE_SCHEMA
    )


def _decode_pdf(pdf: pd.DataFrame, fallback: bool) -> pd.DataFrame:
    """Per-batch decode body shared by ``decode_image`` and the fused
    ``synthesize_and_decode`` — one decode contract, so the fused and
    staged plans are row-identical by construction."""
    out = {
        "media_id": [], "width": [], "height": [], "channels": [],
        "payload_bytes": [], "mean_byte": [], "decoded": [],
    }
    for mid, payload in zip(pdf["media_id"], pdf["payload"]):
        b = bytes(payload) if payload is not None else b""
        w, h, ch, mean, dec = _decode_one(b, fallback)
        out["media_id"].append(mid)
        out["width"].append(w)
        out["height"].append(h)
        out["channels"].append(ch)
        out["payload_bytes"].append(len(b))
        out["mean_byte"].append(mean)
        out["decoded"].append(dec)
    return pd.DataFrame(out)


RESIZED_SCHEMA = (
    "media_id long, payload binary, width int, height int, "
    "resize_scale_x double, resize_scale_y double, resized boolean"
)


def _resample_ready(arr):
    """16-bit planes (PNG depth-16, lossless JPEG precision > 8) take
    the high byte — the standard 16→8 conversion — before the uint8
    resampler; clipping would saturate every pixel to 255."""
    import numpy as np

    if arr.dtype != np.uint8:
        return (arr >> 8).astype(np.uint8)
    return arr


def resize_images(
    df: DataFrame, target_w: int, target_h: int, method: str = "bilinear"
) -> DataFrame:
    """REAL pixel resize through the standard Arrow-batched mapInPandas
    shape: PNG payloads decode (pure-numpy codec), resample
    (nearest/bilinear, ops/imagecodec.resize_array) and re-encode as
    PNG; SYNM payloads rewrite their header geometry (they carry no
    pixels by construction); anything else goes through PIL when
    importable, else passes through with ``resized=false``.
    scale_x/scale_y = original/target.
    """

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from sqlpp_spark.ops import imagecodec as IC

        for pdf in batches:
            out = {
                "media_id": [], "payload": [], "width": [], "height": [],
                "resize_scale_x": [], "resize_scale_y": [], "resized": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                w0 = h0 = None
                new_payload, resized = b, False
                if len(b) >= 9 and b[:4] == _MAGIC:
                    w0, h0 = struct.unpack(">HH", b[4:8])
                    new_payload = (
                        _MAGIC
                        + struct.pack(">HH", target_w, target_h)
                        + b[8:]
                    )
                    resized = True
                elif b[:8] == IC.PNG_SIGNATURE:
                    try:
                        arr = _resample_ready(IC.decode_png(b))
                        h0, w0 = arr.shape[0], arr.shape[1]
                        new_payload = IC.encode_png(
                            IC.resize_array(arr, target_w, target_h, method)
                        )
                        resized = True
                    except IC.ImageCodecError:
                        pass
                elif b[:3] == IC.JPEG_SIGNATURE and (
                    not HAS_PIL or _is_lossless_jpeg(b)
                ):
                    try:
                        arr = _resample_ready(IC.decode_jpeg(b))
                        h0, w0 = arr.shape[0], arr.shape[1]
                        new_payload = IC.encode_jpeg(
                            IC.resize_array(arr, target_w, target_h, method)
                        )
                        resized = True
                    except IC.ImageCodecError:
                        pass
                elif (
                    b[:6] in (b"GIF87a", b"GIF89a")
                    or b[:2] == b"BM"
                    or b[:4] in (b"II*\x00", b"MM\x00*")
                ) and not HAS_PIL:
                    # GIF/BMP/TIFF: native decode, resample, re-encode
                    # as PNG (the pipeline's canonical lossless output)
                    try:
                        if b[:2] == b"BM":
                            from sqlpp_spark.ops.bmpcodec import decode_bmp

                            arr = decode_bmp(b)
                        elif b[:4] in (b"II*\x00", b"MM\x00*"):
                            from sqlpp_spark.ops.tiffcodec import decode_tiff

                            arr = decode_tiff(b)
                        else:
                            from sqlpp_spark.ops.gifcodec import decode_gif

                            arr = decode_gif(b)
                        if arr.shape[2] == 4:
                            arr = arr[:, :, :3]
                        h0, w0 = arr.shape[0], arr.shape[1]
                        new_payload = IC.encode_png(
                            IC.resize_array(arr, target_w, target_h, method)
                        )
                        resized = True
                    except ValueError:  # all three codec errors subclass it
                        pass
                elif HAS_PIL:
                    try:
                        import io

                        import numpy as np

                        img = _PILImage.open(io.BytesIO(b))
                        w0, h0 = img.size
                        arr = np.asarray(img.convert("RGB"))
                        new_payload = IC.encode_png(
                            IC.resize_array(arr, target_w, target_h, method)
                        )
                        resized = True
                    except Exception:
                        pass
                out["media_id"].append(mid)
                out["payload"].append(new_payload)
                out["width"].append(target_w)
                out["height"].append(target_h)
                out["resize_scale_x"].append(
                    float(w0) / target_w if w0 else None
                )
                out["resize_scale_y"].append(
                    float(h0) / target_h if h0 else None
                )
                out["resized"].append(resized)
            yield pd.DataFrame(out)

    return ensure_parallelism(df.select("media_id", "payload")).mapInPandas(
        resize_batches, RESIZED_SCHEMA
    )


def frame_sample_indices(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame sampling plan: explode the frame indices a decoder
    would extract (metadata-only, pre-decode pruning)."""
    n_frames = (F.coalesce(F.col("duration_ms"), F.lit(0)) / F.lit(every_ms)).cast("int")
    return df.select(
        "media_id",
        F.explode(F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)))).alias("frame_idx"),
    ).withColumn("frame_ms", F.col("frame_idx") * F.lit(every_ms))


# ---------------------------------------------------------------------------
# Audio: real WAV decode (stdlib wave module — no third-party libs)
# ---------------------------------------------------------------------------

AUDIO_SCHEMA = (
    "media_id long, sample_rate int, n_channels int, n_samples long, "
    "duration_ms long, rms double, energy long, zero_crossings long, "
    "decoded boolean"
)


def synthesize_audio(
    df: DataFrame, id_col: str = "doc_id", freq_from: str = "doc_id",
    sample_rate: int = 8000, duration_ms: int = 250,
) -> DataFrame:
    """Deterministic WAV corpus: one mono 16-bit PCM sine per row,
    frequency derived from ``freq_from`` (110 + (id % 880) Hz). Encoded
    with the stdlib ``wave`` writer inside mapInPandas — genuine RIFF
    bytes, so the decode path is exercised for real."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave as wavmod

        import numpy as np

        n = int(sample_rate * duration_ms / 1000)
        t = np.arange(n) / sample_rate
        for pdf in batches:
            out = {"media_id": [], "kind": [], "payload": []}
            for mid, src in zip(pdf[id_col], pdf[freq_from]):
                f = 110.0 + (int(src) % 880)
                pcm = (np.sin(2 * np.pi * f * t) * 16000).astype("<i2")
                buf = io.BytesIO()
                with wavmod.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(sample_rate)
                    w.writeframes(pcm.tobytes())
                out["media_id"].append(mid)
                out["kind"].append("audio")
                out["payload"].append(buf.getvalue())
            yield pd.DataFrame(out)

    cols = list(dict.fromkeys((id_col, freq_from)))
    return ensure_parallelism(df.select(*cols)).mapInPandas(
        synth, "media_id long, kind string, payload binary"
    )


def synthesize_wave_formula(
    df: DataFrame, id_col: str = "doc_id", n_samples: int = 160,
    sample_rate: int = 8000,
) -> DataFrame:
    """REAL WAV payloads with CLOSED-FORM integer samples: per doc a
    mono 16-bit PCM waveform sample[t] = ((a*t + b) mod 65536) - 32768
    with a = 2*(id mod 997)+1, b = id mod 251 — pure integer
    arithmetic, so a SQL oracle can recompute the decoded sample
    energy (exact int64 sum of squares) and zero-crossing count
    bit-for-bit. The sine corpus (``synthesize_audio``) stays the
    realistic path; this is the oracle-able one — same trick as
    the ``png`` media family for images."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave as wavmod

        import numpy as np

        t = np.arange(n_samples, dtype=np.int64)
        for pdf in batches:
            out = {"media_id": [], "payload": []}
            for mid in pdf[id_col]:
                did = int(mid)
                a = 2 * (did % 997) + 1
                b = did % 251
                pcm = (((a * t + b) % 65536) - 32768).astype("<i2")
                buf = io.BytesIO()
                with wavmod.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(sample_rate)
                    w.writeframes(pcm.tobytes())
                out["media_id"].append(did)
                out["payload"].append(buf.getvalue())
            yield pd.DataFrame(out)

    return ensure_parallelism(df.select(id_col)).mapInPandas(
        synth, "media_id long, payload binary"
    )


def synthesize_g711_formula(
    df: DataFrame, id_col: str = "doc_id", law: str = "mulaw",
    n_samples: int = 160, sample_rate: int = 8000,
) -> DataFrame:
    """REAL compressed-audio WAV payloads (G.711 u-law or A-law,
    WAVE format 7/6) whose CODE bytes are a closed integer formula
    u(t) = (a*t + b) mod 256 with a = 2*(id mod 97) + 1, b = id mod
    53 — so a SQL oracle can expand the exact G.711 decode formula
    per code and recompute decoded-sample energy and zero crossings
    bit-for-bit. The compressed-audio analogue of
    ``synthesize_wave_formula``."""
    if law not in ("mulaw", "alaw"):
        raise ValueError(f"unknown companding law: {law!r}")

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from sqlpp_spark.ops.audiocodec import (
            WAVE_ALAW, WAVE_MULAW, write_wav,
        )

        fmt = WAVE_MULAW if law == "mulaw" else WAVE_ALAW
        t = np.arange(n_samples, dtype=np.int64)
        for pdf in batches:
            out = {"media_id": [], "payload": []}
            for mid in pdf[id_col]:
                did = int(mid)
                a = 2 * (did % 97) + 1
                b = did % 53
                codes = ((a * t + b) % 256).astype(np.uint8)
                out["media_id"].append(mid)
                out["payload"].append(
                    write_wav(codes.tobytes(), sample_rate, fmt)
                )
            yield pd.DataFrame(out)

    return ensure_parallelism(df.select(id_col)).mapInPandas(
        synth, "media_id long, payload binary"
    )


def decode_audio(df: DataFrame, fallback: bool = True) -> DataFrame:
    """REAL audio decode through the standard Arrow-batched mapInPandas
    shape: WAV (RIFF PCM) payloads parse with the stdlib ``wave``
    module, FLAC payloads frame-decode through ``ops/flaccodec``
    (RFC 9639: constant/verbatim/fixed/LPC subframes, Rice residuals,
    stereo decorrelation, CRC + MD5 verified) — sample rate, channels,
    duration, RMS amplitude (normalized to [0,1]) and zero-crossing
    count, all from actual samples. Other payloads report byte stats
    with ``decoded=false`` (MP3/AAC/Vorbis frame decode needs ffmpeg —
    that boundary raises under ``fallback=False``)."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave as wavmod

        import numpy as np

        for pdf in batches:
            out = {
                "media_id": [], "sample_rate": [], "n_channels": [],
                "n_samples": [], "duration_ms": [], "rms": [],
                "energy": [], "zero_crossings": [], "decoded": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                sr = ch = 0
                ns = dur = zc = 0
                rms = 0.0
                energy = 0
                dec = False
                if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
                    try:
                        with wavmod.open(io.BytesIO(b), "rb") as w:
                            sr = w.getframerate()
                            ch = w.getnchannels()
                            width = w.getsampwidth()
                            ns = w.getnframes()
                            raw = w.readframes(ns)
                        if width == 2:
                            s_int = np.frombuffer(raw, dtype="<i2").astype(
                                np.int64
                            )
                            x = s_int.astype(np.float64) / 32768.0
                        elif width == 1:  # 8-bit WAV is unsigned
                            s_int = (
                                np.frombuffer(raw, dtype=np.uint8).astype(
                                    np.int64
                                )
                                - 128
                            )
                            x = s_int.astype(np.float64) / 128.0
                        else:
                            raise ValueError(f"width {width}")
                        dur = int(ns * 1000 / sr) if sr else 0
                        rms = float(np.sqrt(np.mean(x * x))) if x.size else 0.0
                        # exact integer sum of squared RAW samples: the
                        # sufficient statistic behind rms that IS
                        # bit-portable across engines (no float-sum
                        # ordering sensitivity) — what the SQL oracle
                        # for formula waveforms checks
                        energy = int(np.sum(s_int * s_int))
                        zc = int(np.count_nonzero(np.diff(np.signbit(x))))
                        dec = True
                    except Exception:
                        # stdlib wave only reads PCM — compressed WAV
                        # formats (G.711 u-law/A-law, IMA ADPCM)
                        # decode through ops/audiocodec
                        try:
                            from sqlpp_spark.ops.audiocodec import decode_wav

                            s_int16, sr, ch = decode_wav(b)
                            s_int = s_int16.astype(np.int64)
                            x = s_int.astype(np.float64) / 32768.0
                            ns = len(s_int) // max(ch, 1)
                            dur = int(ns * 1000 / sr) if sr else 0
                            rms = (
                                float(np.sqrt(np.mean(x * x))) if x.size else 0.0
                            )
                            energy = int(np.sum(s_int * s_int))
                            zc = int(
                                np.count_nonzero(np.diff(np.signbit(x)))
                            )
                            dec = True
                        except Exception:
                            if not fallback:
                                raise
                elif b[:4] == b"fLaC":
                    try:
                        from sqlpp_spark.ops.flaccodec import decode_flac

                        arr, sr, bps = decode_flac(b)
                        ch = arr.shape[1]
                        ns = arr.shape[0]
                        s_int = arr.reshape(-1).astype(np.int64)
                        x = s_int.astype(np.float64) / float(1 << (bps - 1))
                        dur = int(ns * 1000 / sr) if sr else 0
                        rms = float(np.sqrt(np.mean(x * x))) if x.size else 0.0
                        energy = int(np.sum(s_int * s_int))
                        zc = int(np.count_nonzero(np.diff(np.signbit(x))))
                        dec = True
                    except Exception:
                        if not fallback:
                            raise
                elif not fallback:
                    raise NotImplementedError(
                        "MP3/AAC/Vorbis-class audio decode requires ffmpeg; "
                        "RIFF WAV (PCM, G.711 u-law/A-law, IMA ADPCM) and "
                        "FLAC decode natively"
                    )
                out["media_id"].append(mid)
                out["sample_rate"].append(sr)
                out["n_channels"].append(ch)
                out["n_samples"].append(ns)
                out["duration_ms"].append(dur)
                out["rms"].append(rms)
                out["energy"].append(energy)
                out["zero_crossings"].append(zc)
                out["decoded"].append(dec)
            yield pd.DataFrame(out)

    return ensure_parallelism(df.select("media_id", "payload")).mapInPandas(
        decode, AUDIO_SCHEMA
    )


# ---------------------------------------------------------------------------
# Shared container-metadata extractor (round-9 third review)
# ---------------------------------------------------------------------------


def _req_int(v):
    if isinstance(v, bool) or not isinstance(v, int):
        raise TypeError(f"expected int, got {type(v).__name__}")
    return v


def _req_str(v):
    if not isinstance(v, str):
        raise TypeError(f"expected str, got {type(v).__name__}")
    return v


def _metadata_extractor(df: DataFrame, schema: str, fields, parse_row,
                        error_cls) -> DataFrame:
    """One mapInPandas extractor shared by every container-metadata
    operator (HEIF/MP4/FLAC/Ogg/EXIF/MP3): ``parse_row(bytes) -> dict`` does
    the format work; ``fields`` is an ordered list of
    ``(name, default, coerce)``. A parse failure (``error_cls``) OR a
    wrongly-TYPED parsed value (coerce raises — e.g. an EXIF
    orientation stored as ASCII) yields the contractual
    decoded=false row for THAT payload instead of poisoning the typed
    Arrow batch and failing the task."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": []}
            out.update({name: [] for name, _, _ in fields})
            out["decoded"] = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                try:
                    vals = parse_row(b)
                    row = {
                        name: coerce(vals[name])
                        for name, _, coerce in fields
                    }
                    ok = True
                except (error_cls, KeyError, TypeError, ValueError):
                    row = {name: dflt for name, dflt, _ in fields}
                    ok = False
                out["media_id"].append(mid)
                for name, _, _ in fields:
                    out[name].append(row[name])
                out["decoded"].append(ok)
            yield pd.DataFrame(out)

    return ensure_parallelism(df.select("media_id", "payload")).mapInPandas(
        extract, schema
    )


# ---------------------------------------------------------------------------
# HEIF/AVIF container metadata (ISO 23008-12 — ops/mp4box.py heif_info)
# ---------------------------------------------------------------------------


def _req_bool(v):
    if not isinstance(v, bool):
        raise TypeError(f"expected bool, got {type(v).__name__}")
    return v


def _opt_str(v):
    return None if v is None else _req_str(v)


HEIF_META_SCHEMA = (
    "media_id long, format string, width int, height int, "
    "bit_depth int, rotation int, has_alpha boolean, codec string, "
    "n_items int, primary_item_bytes long, decoded boolean"
)


def heif_metadata(df: DataFrame) -> DataFrame:
    """Metadata-first HEIF/AVIF parse (ops/mp4box.py heif_info): the
    pruning surface before the AV1/HEVC decode boundary. Malformed
    payloads — or wrongly-TYPED parsed values — yield decoded=false
    rows; ``codec`` is NULL on a parsed file whose primary item has no
    AV1/HEVC coding."""
    from sqlpp_spark.ops.mp4box import Mp4BoxError, heif_info

    fields = [
        ("format", None, _req_str), ("width", 0, _req_int),
        ("height", 0, _req_int), ("bit_depth", 0, _req_int),
        ("rotation", 0, _req_int), ("has_alpha", False, _req_bool),
        ("codec", None, _opt_str), ("n_items", 0, _req_int),
        ("primary_item_bytes", 0, _req_int),
    ]
    return _metadata_extractor(df, HEIF_META_SCHEMA, fields, heif_info,
                               Mp4BoxError)


# ---------------------------------------------------------------------------
# MP4 container metadata (ISO 14496-12 — ops/mp4box.py)
# ---------------------------------------------------------------------------


MP4_META_SCHEMA = (
    "media_id long, brand string, duration_ms long, n_tracks int, "
    "codec string, width int, height int, n_samples long, "
    "n_keyframes long, sample_bytes long, decoded boolean"
)


def mp4_metadata(df: DataFrame) -> DataFrame:
    """Container-metadata extraction over binary MP4 payloads via
    Arrow-batched mapInPandas: the metadata-first multimodal pattern —
    geometry/duration/keyframe statistics come from the ~KB `moov`
    box, so filtering and frame-sample planning happen BEFORE any
    pixel decode touches the (at crawl scale, MB-GB) `mdat`. Non-BMFF
    payloads yield decoded=false rows instead of failing the task."""
    from sqlpp_spark.ops.mp4box import Mp4BoxError, mp4_info

    def parse_row(b: bytes) -> dict:
        info = mp4_info(b)
        t = info["tracks"][0]
        return {
            "brand": info["brand"],
            "duration_ms": info["duration_ms"],
            "n_tracks": len(info["tracks"]),
            "codec": t.get("codec", ""),
            "width": t.get("width", 0),
            "height": t.get("height", 0),
            "n_samples": t.get("n_samples", 0),
            "n_keyframes": len(t.get("keyframes", [])),
            "sample_bytes": t.get("sample_bytes", 0),
        }

    fields = [
        ("brand", "", _req_str), ("duration_ms", 0, _req_int),
        ("n_tracks", 0, _req_int), ("codec", "", _req_str),
        ("width", 0, _req_int), ("height", 0, _req_int),
        ("n_samples", 0, _req_int), ("n_keyframes", 0, _req_int),
        ("sample_bytes", 0, _req_int),
    ]
    return _metadata_extractor(df, MP4_META_SCHEMA, fields, parse_row,
                               Mp4BoxError)


MP4_KEYFRAME_SCHEMA = "media_id long, sample_no long, sample_ms long"


def mp4_keyframe_plan(df: DataFrame) -> DataFrame:
    """Frame-sample PLANNING from container metadata alone: one row
    per sync sample (keyframe) with its 1-based sample number and
    presentation time — the exact seek list a downstream ffmpeg/
    hardware decoder would be handed. Times come from a cumulative
    walk of the stts run-length table (ISO/IEC 14496-12 §8.6.1.2), so
    mixed-delta streams get exact timestamps, not an average-delta
    approximation."""
    from sqlpp_spark.ops.mp4box import (
        Mp4BoxError, mp4_info, sample_decode_time,
    )

    def plan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "sample_no": [], "sample_ms": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                try:
                    info = mp4_info(b)
                    t = info["tracks"][0]
                    mts = t.get("media_timescale", 1000) or 1000
                    entries = t.get("stts_entries", [])
                    for k in t.get("keyframes", []):
                        out["media_id"].append(mid)
                        out["sample_no"].append(k)
                        out["sample_ms"].append(
                            sample_decode_time(entries, k) * 1000 // mts
                        )
                except Mp4BoxError:
                    pass
            yield pd.DataFrame(out)

    return ensure_parallelism(df.select("media_id", "payload")).mapInPandas(
        plan, MP4_KEYFRAME_SCHEMA
    )


# ---------------------------------------------------------------------------
# FLAC container metadata (ops/audiocodec.py flac_streaminfo)
# ---------------------------------------------------------------------------


def synthesize_flac_formula(
    df: DataFrame, id_col: str = "doc_id", n_samples: int = 160,
    sample_rate: int = 8000, block_size: int = 64, lpc_order: int = 0,
    waveform: str = "ramp", force_lpc: bool = False,
) -> DataFrame:
    """REAL FLAC payloads (compressed frames, not headers) whose
    16-bit samples are a closed integer formula, so a DuckDB oracle
    certifies FLAC FRAME decode bit-for-bit the way the PNG/JPEG
    formula corpora certify image decode. block_size=64 over 160
    samples gives multiple frames plus a short last block.

    ``waveform="ramp"`` reuses the WAV corpus formula (sample[t] =
    ((a*t + b) mod 65536) - 32768; noise-like, exercises fixed/
    verbatim subframes + hot Rice params). ``waveform="triangle"``
    is |2*((t+b) mod p) - p|*400 - 8000 with p = 20 + 2*(id mod 13),
    b = id mod 17 — smooth and periodic, the shape LPC models well;
    with ``force_lpc`` the encoder emits LPC subframes regardless of
    cost, so the oracle pins the quantized-coefficient prediction
    path itself."""
    if waveform not in ("ramp", "triangle"):
        raise ValueError(f"unknown waveform: {waveform!r}")

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from sqlpp_spark.ops.flaccodec import encode_flac

        t = np.arange(n_samples, dtype=np.int64)
        for pdf in batches:
            out = {"media_id": [], "payload": []}
            for mid in pdf[id_col]:
                did = int(mid)
                if waveform == "ramp":
                    a = 2 * (did % 997) + 1
                    b = did % 251
                    pcm = ((a * t + b) % 65536) - 32768
                else:
                    p = 20 + 2 * (did % 13)
                    b = did % 17
                    pcm = np.abs(2 * ((t + b) % p) - p) * 400 - 8000
                out["media_id"].append(did)
                out["payload"].append(encode_flac(
                    pcm, sample_rate, 16, block_size=block_size,
                    lpc_order=lpc_order, force_lpc=force_lpc,
                ))
            yield pd.DataFrame(out)

    return ensure_parallelism(df.select(id_col)).mapInPandas(
        synth, "media_id long, payload binary"
    )


FLAC_META_SCHEMA = (
    "media_id long, sample_rate long, channels int, bits_per_sample int, "
    "total_samples long, duration_ms long, decoded boolean"
)


def flac_metadata(df: DataFrame) -> DataFrame:
    """STREAMINFO extraction over binary FLAC payloads (metadata-first
    audio pruning: rate/depth/duration filters run on the 42-byte
    header, never the frames). Non-FLAC payloads yield decoded=false
    rows instead of failing the task."""
    from sqlpp_spark.ops.audiocodec import AudioCodecError, flac_streaminfo

    def parse_row(b: bytes) -> dict:
        i = flac_streaminfo(b)
        return {
            "sample_rate": i["sample_rate"],
            "channels": i["channels"],
            "bits_per_sample": i["bits_per_sample"],
            "total_samples": i["total_samples"],
            "duration_ms": (
                i["total_samples"] * 1000 // i["sample_rate"]
                if i["sample_rate"] else 0
            ),
        }

    fields = [
        ("sample_rate", 0, _req_int), ("channels", 0, _req_int),
        ("bits_per_sample", 0, _req_int), ("total_samples", 0, _req_int),
        ("duration_ms", 0, _req_int),
    ]
    return _metadata_extractor(df, FLAC_META_SCHEMA, fields, parse_row,
                               AudioCodecError)


# ---------------------------------------------------------------------------
# Ogg Opus container metadata (ops/oggcodec.py)
# ---------------------------------------------------------------------------


OGG_META_SCHEMA = (
    "media_id long, channels int, pre_skip int, input_sample_rate long, "
    "n_pages long, duration_ms long, decoded boolean"
)


def ogg_metadata(df: DataFrame) -> DataFrame:
    """OpusHead + page-walk metadata over binary Ogg payloads (CRC
    verified per page); non-Ogg payloads yield decoded=false rows."""
    from sqlpp_spark.ops.oggcodec import OggCodecError, ogg_opus_info

    def parse_row(b: bytes) -> dict:
        i = ogg_opus_info(b)
        return {
            "channels": i["channels"],
            "pre_skip": i["pre_skip"],
            "input_sample_rate": i["input_sample_rate"],
            "n_pages": i["n_pages"],
            "duration_ms": i["duration_ms"] or 0,
        }

    fields = [
        ("channels", 0, _req_int), ("pre_skip", 0, _req_int),
        ("input_sample_rate", 0, _req_int), ("n_pages", 0, _req_int),
        ("duration_ms", 0, _req_int),
    ]
    return _metadata_extractor(df, OGG_META_SCHEMA, fields, parse_row,
                               OggCodecError)


# ---------------------------------------------------------------------------
# EXIF metadata (ops/exif.py)
# ---------------------------------------------------------------------------


EXIF_META_SCHEMA = (
    "media_id long, orientation int, make string, taken_at string, "
    "pixel_x long, pixel_y long, decoded boolean"
)


def image_exif(df: DataFrame) -> DataFrame:
    """EXIF extraction over binary JPEG payloads via Arrow-batched
    mapInPandas — orientation/camera/date/dimensions from the ~200-byte
    APP1 segment, never the entropy-coded scan. Payloads without EXIF
    — or with wrongly-TYPED tag values (an orientation stored as
    ASCII) — yield decoded=false rows."""
    from sqlpp_spark.ops.exif import (
        TAG_DATETIME, TAG_MAKE, TAG_ORIENTATION, TAG_PIXEL_X, TAG_PIXEL_Y,
        ExifError, exif_from_jpeg,
    )

    def parse_row(b: bytes) -> dict:
        t = exif_from_jpeg(b)
        return {
            "orientation": (t.get(TAG_ORIENTATION) or [0])[0],
            "make": t.get(TAG_MAKE, ""),
            "taken_at": t.get(TAG_DATETIME, ""),
            "pixel_x": (t.get(TAG_PIXEL_X) or [0])[0],
            "pixel_y": (t.get(TAG_PIXEL_Y) or [0])[0],
        }

    fields = [
        ("orientation", 0, _req_int), ("make", "", _req_str),
        ("taken_at", "", _req_str), ("pixel_x", 0, _req_int),
        ("pixel_y", 0, _req_int),
    ]
    return _metadata_extractor(df, EXIF_META_SCHEMA, fields, parse_row,
                               ExifError)


# ---------------------------------------------------------------------------
# MP3 frame-header metadata (ops/mp3box.py)
# ---------------------------------------------------------------------------


MP3_META_SCHEMA = (
    "media_id long, bitrate_kbps int, samplerate long, channels int, "
    "n_frames long, duration_ms long, id3v2_bytes long, decoded boolean"
)


def mp3_metadata(df: DataFrame) -> DataFrame:
    """Frame-walk metadata over binary MP3 payloads; non-MPEG payloads
    yield decoded=false rows."""
    from sqlpp_spark.ops.mp3box import Mp3BoxError, mp3_info

    def parse_row(b: bytes) -> dict:
        i = mp3_info(b)
        return {
            "bitrate_kbps": i["bitrate_kbps"],
            "samplerate": i["samplerate"],
            "channels": i["channels"],
            "n_frames": i["n_frames"],
            "duration_ms": i["duration_ms"],
            "id3v2_bytes": i["id3v2_bytes"],
        }

    fields = [
        ("bitrate_kbps", 0, _req_int), ("samplerate", 0, _req_int),
        ("channels", 0, _req_int), ("n_frames", 0, _req_int),
        ("duration_ms", 0, _req_int), ("id3v2_bytes", 0, _req_int),
    ]
    return _metadata_extractor(df, MP3_META_SCHEMA, fields, parse_row,
                               Mp3BoxError)
