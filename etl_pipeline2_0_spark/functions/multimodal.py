"""Multimodal column plumbing: image/audio/video as opaque binary columns.

Design for the 100 TB case: media payloads ride as ``binary`` cells with a
typed metadata struct alongside (mime, n_bytes, checksum); decode /
feature-extract / resize / frame-sample run as Arrow-batched functions over
``mapInPandas`` so each task streams record batches without materializing
the whole partition.

Decoders: the container has no codec libraries, so two REAL pure-Python
parsers ship built in — uncompressed BMP (BITMAPINFOHEADER, 8/24/32-bit
BI_RGB) for images and RIFF/WAVE PCM for audio — implemented with
``struct`` + numpy inside the same ``mapInPandas`` contract a
Pillow/soundfile-backed decoder would use.  Payloads in other formats
come back with ``err`` set rather than raising, and the PIL path stays
gated for when a codec lib exists.  ``fake_decode_features`` remains the
deterministic byte-stat stand-in for plumbing tests.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Optional decoders: gated imports, never required at module load.
try:  # pragma: no cover - not installed in this container
    from PIL import Image  # type: ignore

    _HAS_PIL = True
except Exception:  # pragma: no cover
    _HAS_PIL = False

MEDIA_SCHEMA = (
    "media_id bigint, payload binary, "
    "meta struct<mime: string, n_bytes: bigint, checksum: string>"
)

FEATURE_SCHEMA = (
    "media_id bigint, n_bytes bigint, byte_mean double, byte_min int, "
    "byte_max int, head_hex string"
)


def attach_binary(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    mime: str = "application/octet-stream",
) -> DataFrame:
    """Build a typed media frame from any source column: payload as binary +
    metadata struct.  (With real media, the payload would come from
    ``spark.read.format("binaryFile")`` or decoded E4 base64 hits —
    ``unbase64`` — instead of text encoding.)"""
    payload = F.encode(F.col(content_col), "UTF-8")
    return df.select(
        F.col(id_col).alias("media_id"),
        payload.alias("payload"),
        F.struct(
            F.lit(mime).alias("mime"),
            F.octet_length(F.col(content_col)).cast("bigint").alias("n_bytes"),
            F.md5(F.col(content_col)).alias("checksum"),
        ).alias("meta"),
    )


def media_from_base64(
    detected: DataFrame,
    b64_col: str = "b64_blocks",
    content_col: str = "content",
) -> DataFrame:
    """Decode the E4 base64 hits into binary payloads (the reference never
    decodes — this is the scale-pipeline extension).

    ``b64_blocks`` carries bare payloads (the reference's re.findall
    group-1 semantics, see operators/detect.py), so the mime tag is
    recovered by matching each payload against the data-URIs still present
    in the source document; payloads with no data-URI prefix get
    ``application/octet-stream``.  All native expressions — the URI
    extraction is one pass per document, carried through the explode."""
    uri_entries = F.transform(
        F.regexp_extract_all(
            F.col(content_col),
            F.lit(r"data:[^;,\s]+;base64,[A-Za-z0-9+/=]+"),
            F.lit(0),
        ),
        lambda m: F.named_struct(
            F.lit("payload"),
            F.regexp_extract(m, r";base64,([A-Za-z0-9+/=]+)$", 1),
            F.lit("mime"),
            F.regexp_extract(m, r"^data:([^;]+);base64,", 1),
        ),
    )
    exploded = detected.select(
        F.col("doc_id"),
        uri_entries.alias("__uris"),
        F.explode(F.col(b64_col)).alias("b64"),
    )
    matching = F.filter(F.col("__uris"), lambda e: e["payload"] == F.col("b64"))
    mime = F.when(F.size(matching) > 0, matching[0]["mime"]).otherwise(
        F.lit("application/octet-stream")
    )
    return exploded.select(
        F.xxhash64("doc_id", "b64").alias("media_id"),
        F.unbase64("b64").alias("payload"),
        F.struct(
            mime.alias("mime"),
            F.octet_length(F.unbase64("b64")).cast("bigint").alias("n_bytes"),
            F.md5(F.unbase64("b64").cast("string")).alias("checksum"),
        ).alias("meta"),
    )


# ----------------------------------------------------- pure-Python codecs --
#
# Minimal real decoders with zero dependencies beyond numpy.  Public format
# references: BMP = Windows BITMAPFILEHEADER/BITMAPINFOHEADER layout;
# WAV = RIFF chunk stream with a `fmt ` and a `data` chunk.


def parse_bmp(b: bytes) -> dict | None:
    """Parse an uncompressed (BI_RGB) BMP; returns header fields + pixel
    array, or None if the payload is not a BMP this parser handles."""
    import struct

    import numpy as np

    if b is None or len(b) < 54 or b[:2] != b"BM":
        return None
    try:
        pixel_offset = struct.unpack_from("<I", b, 10)[0]
        dib_size = struct.unpack_from("<I", b, 14)[0]
        if dib_size < 40:  # BITMAPCOREHEADER not supported
            return None
        width, height = struct.unpack_from("<ii", b, 18)
        planes, bpp = struct.unpack_from("<HH", b, 26)
        compression = struct.unpack_from("<I", b, 30)[0]
    except struct.error:
        return None
    if compression != 0 or bpp not in (8, 24, 32) or width <= 0 or height == 0:
        return None
    top_down = height < 0
    abs_h = abs(height)
    bytes_pp = bpp // 8
    row_stride = (width * bytes_pp + 3) & ~3  # rows pad to 4 bytes
    need = pixel_offset + row_stride * abs_h
    if len(b) < need:
        return None
    raw = np.frombuffer(b, dtype=np.uint8, count=row_stride * abs_h, offset=pixel_offset)
    rows = raw.reshape(abs_h, row_stride)[:, : width * bytes_pp]
    if bytes_pp > 1:
        px = rows.reshape(abs_h, width, bytes_pp)
    else:
        px = rows.reshape(abs_h, width, 1)
    if not top_down:
        px = px[::-1]  # BMP stores bottom-up by default
    palette = None
    if bpp == 8:
        # Color table sits between the DIB header and the pixel data as
        # BGRX quads.  Entries beyond what is stored default to identity
        # gray (the spec default when biClrUsed is 0 but the table is
        # truncated).  Kept as (256, 3) BGR so consumers can map indices
        # to real colors instead of treating indices as luma.
        pal = np.tile(np.arange(256, dtype=np.uint8)[:, None], (1, 3))
        n_stored = max(0, min((pixel_offset - 14 - dib_size) // 4, 256))
        if n_stored:
            quads = np.frombuffer(
                b, dtype=np.uint8, count=n_stored * 4, offset=14 + dib_size
            ).reshape(n_stored, 4)
            pal[:n_stored] = quads[:, :3]
        palette = pal
    return {
        "width": width,
        "height": abs_h,
        "bits_per_pixel": bpp,
        "mode": {8: "P", 24: "BGR", 32: "BGRA"}[bpp],
        "pixels": px,
        "palette": palette,
    }


def encode_bmp(px, palette=None) -> bytes:
    """Re-encode an (h, w, c) uint8 array (c in {1, 3, 4}) as an
    uncompressed bottom-up BMP — the inverse of ``parse_bmp``.  For c=1
    (paletted), ``palette`` is the (≤256, 3) BGR color table to preserve;
    identity grayscale when omitted."""
    import struct

    import numpy as np

    px = np.ascontiguousarray(px, dtype=np.uint8)
    h, w, c = px.shape
    bpp = c * 8
    row_stride = (w * c + 3) & ~3
    if c == 1:  # 8-bit needs a color table
        if palette is None:
            palette = b"".join(bytes([i, i, i, 0]) for i in range(256))
        else:
            pal = np.zeros((256, 4), dtype=np.uint8)
            pal[:, :3] = np.tile(np.arange(256, dtype=np.uint8)[:, None], (1, 3))
            n = min(len(palette), 256)
            pal[:n, :3] = np.asarray(palette, dtype=np.uint8)[:n]
            palette = pal.tobytes()
    else:
        palette = b""
    pixel_offset = 14 + 40 + len(palette)
    img_size = row_stride * h
    header = b"BM" + struct.pack(
        "<IHHI", pixel_offset + img_size, 0, 0, pixel_offset
    )
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, bpp, 0, img_size, 2835, 2835, 0, 0)
    rows = np.zeros((h, row_stride), dtype=np.uint8)
    rows[:, : w * c] = px.reshape(h, w * c)
    return header + dib + palette + rows[::-1].tobytes()


def parse_wav(b: bytes) -> dict | None:
    """Parse a RIFF/WAVE header (PCM or IEEE-float); returns format fields +
    data-chunk length, or None if not a WAV."""
    import struct

    if b is None or len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos, fmt, data_len = 12, None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        (clen,) = struct.unpack_from("<I", b, pos + 4)
        body = pos + 8
        if cid == b"fmt " and clen >= 16 and body + 16 <= len(b):
            audio_format, channels, rate = struct.unpack_from("<HHI", b, body)
            bits = struct.unpack_from("<H", b, body + 14)[0]
            fmt = {
                "audio_format": audio_format,
                "channels": channels,
                "sample_rate": rate,
                "bits_per_sample": bits,
            }
        elif cid == b"data":
            data_len = min(clen, len(b) - body)
            data_off = body
        pos = body + clen + (clen & 1)  # chunks pad to even length
    if fmt is None or data_len is None or fmt["channels"] == 0 or fmt["bits_per_sample"] == 0:
        return None
    frame_bytes = fmt["channels"] * fmt["bits_per_sample"] // 8
    if frame_bytes == 0:
        return None
    n_frames = data_len // frame_bytes
    fmt.update(
        {
            "n_frames": n_frames,
            "data_offset": data_off,
            "data_len": data_len,
            "duration_sec": n_frames / fmt["sample_rate"] if fmt["sample_rate"] else 0.0,
        }
    )
    return fmt


IMAGE_SCHEMA = (
    "media_id bigint, format string, width int, height int, "
    "bits_per_pixel int, mode string, mean_luma double, err string"
)


def decode_image(media: DataFrame) -> DataFrame:
    """Real image decode via the built-in pure-Python BMP parser (width /
    height / bpp / mode / mean luma per payload), Arrow-batched over
    ``mapInPandas``.  Non-BMP payloads yield ``err`` rows instead of
    failing the job — at 100 TB a poison payload must never kill the
    stage.  (A PIL-backed path for other formats plugs into the same
    contract when a codec lib is present; ``_HAS_PIL`` stays False in
    this container.)"""

    def decode_batches(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = {
                "media_id": [],
                "format": [],
                "width": [],
                "height": [],
                "bits_per_pixel": [],
                "mode": [],
                "mean_luma": [],
                "err": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                out["media_id"].append(mid)
                info = parse_bmp(bytes(payload) if payload is not None else None)
                if info is None:
                    out["format"].append(None)
                    out["width"].append(0)
                    out["height"].append(0)
                    out["bits_per_pixel"].append(0)
                    out["mode"].append(None)
                    out["mean_luma"].append(0.0)
                    out["err"].append("not a decodable BMP payload")
                else:
                    out["format"].append("bmp")
                    out["width"].append(info["width"])
                    out["height"].append(info["height"])
                    out["bits_per_pixel"].append(info["bits_per_pixel"])
                    out["mode"].append(info["mode"])
                    px = info["pixels"]
                    if info["palette"] is not None:
                        # Paletted: mean over the LOOKED-UP colors, not the
                        # raw indices (indices carry no luminance meaning).
                        px = info["palette"][px[..., 0]]
                    out["mean_luma"].append(round(float(px.mean()), 6))
                    out["err"].append(None)
            yield pd.DataFrame(out)

    return media.select("media_id", "payload").mapInPandas(
        decode_batches, schema=IMAGE_SCHEMA
    )


def fake_decode_features(media: DataFrame, batch_size_hint: int = 1024) -> DataFrame:
    """Deterministic stand-in decoder: byte statistics per payload via
    ``mapInPandas`` — the exact plumbing (Arrow record-batch iteration,
    schema contract, per-partition streaming) a real decoder would use.

    ``byte_mean`` is emitted UNROUNDED (r15): the exact integer byte sum
    divided by the exact length is one IEEE division — bit-identical in
    any engine — whereas the former 6dp round sat on the dyadic-midpoint
    hazard (HALF_UP vs binary-value engines disagree) AND Python's
    round-half-even, which is what kept this query rows-only."""

    def decode_batches(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            payloads = pdf["payload"]
            rows = {
                "media_id": pdf["media_id"],
                "n_bytes": payloads.map(lambda b: 0 if b is None else len(b)),
                "byte_mean": payloads.map(
                    lambda b: 0.0 if not b else sum(b) / len(b)
                ),
                "byte_min": payloads.map(lambda b: 0 if not b else min(b)),
                "byte_max": payloads.map(lambda b: 0 if not b else max(b)),
                "head_hex": payloads.map(
                    lambda b: "" if b is None else bytes(b[:8]).hex()
                ),
            }
            yield pd.DataFrame(rows)

    return media.select("media_id", "payload").mapInPandas(
        decode_batches, schema=FEATURE_SCHEMA
    )


AUDIO_SCHEMA = (
    "media_id bigint, format string, channels int, sample_rate int, "
    "bits_per_sample int, n_frames bigint, duration_sec double, "
    "rms double, err string"
)


def decode_audio(media: DataFrame) -> DataFrame:
    """Real audio decode via the built-in RIFF/WAVE parser (channels /
    sample rate / bit depth / frame count / duration / RMS amplitude),
    Arrow-batched over ``mapInPandas``.  Non-WAV payloads yield ``err``
    rows instead of failing the job.  RMS is computed for 16-bit PCM (the
    overwhelmingly common case); other depths report header facts only."""

    def decode_batches(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {k: [] for k in (
                "media_id", "format", "channels", "sample_rate",
                "bits_per_sample", "n_frames", "duration_sec", "rms", "err",
            )}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                out["media_id"].append(mid)
                raw = bytes(payload) if payload is not None else None
                info = parse_wav(raw)
                if info is None:
                    for k, v in (
                        ("format", None), ("channels", 0), ("sample_rate", 0),
                        ("bits_per_sample", 0), ("n_frames", 0),
                        ("duration_sec", 0.0), ("rms", 0.0),
                        ("err", "not a decodable WAV payload"),
                    ):
                        out[k].append(v)
                    continue
                rms = 0.0
                if info["bits_per_sample"] == 16 and info["data_len"] >= 2:
                    samples = np.frombuffer(
                        raw, dtype="<i2",
                        count=info["data_len"] // 2, offset=info["data_offset"],
                    ).astype(np.float64)
                    if len(samples):
                        rms = round(float(np.sqrt((samples**2).mean())), 6)
                out["format"].append("wav")
                out["channels"].append(info["channels"])
                out["sample_rate"].append(info["sample_rate"])
                out["bits_per_sample"].append(info["bits_per_sample"])
                out["n_frames"].append(info["n_frames"])
                out["duration_sec"].append(round(info["duration_sec"], 6))
                out["rms"].append(rms)
                out["err"].append(None)
            yield pd.DataFrame(out)

    return media.select("media_id", "payload").mapInPandas(
        decode_batches, schema=AUDIO_SCHEMA
    )


def resize_image(
    media: DataFrame, width: int = 224, height: int = 224
) -> DataFrame:
    """Real resize for BMP payloads: decode → nearest-neighbor resample via
    numpy index arithmetic → re-encode BMP, all inside one ``mapInPandas``
    stream (payload stays ``binary``; each output row records the target
    dims and whether the real decode path ran).  Non-BMP payloads fall
    back to the deterministic pad/truncate stand-in so the operator is
    total — the schema contract is identical either way."""

    def resize_batches(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        target = width * height

        def one(b):
            raw = bytes(b) if b is not None else b""
            info = parse_bmp(raw)
            if info is None:
                return raw.ljust(target, b"\0")[:target], False
            px = info["pixels"]
            h, w = px.shape[:2]
            yi = (np.arange(height) * h) // height
            xi = (np.arange(width) * w) // width
            # Nearest-neighbor keeps palette indices valid; re-encode with
            # the ORIGINAL color table so paletted images keep their colors.
            return encode_bmp(px[yi][:, xi], palette=info["palette"]), True

        for pdf in batches:
            pairs = [one(b) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [p for p, _ in pairs],
                    "width": pd.Series([width] * len(pdf), dtype="int32"),
                    "height": pd.Series([height] * len(pdf), dtype="int32"),
                    "decoded": [d for _, d in pairs],
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        resize_batches,
        schema="media_id bigint, payload binary, width int, height int, decoded boolean",
    )


def frame_sample_plan(media: DataFrame, every_nth: int = 10) -> DataFrame:
    """Frame-sampling *plan* for video payloads: emits (media_id, frame_no)
    rows for every nth frame without decoding — the shuffle-free explode the
    real sampler would feed.  Frame count is stubbed as n_bytes/1024."""
    est_frames = F.greatest(
        (F.col("meta.n_bytes") / 1024).cast("int"), F.lit(1)
    )
    return media.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), est_frames - 1, F.lit(every_nth))
        ).alias("frame_no"),
    )


# -------------------------------------------------- multi-frame container --
#
# No video codec ships in this container, so the frame store is our own
# trivial concat-of-BMPs format ("BMPS": magic, frame count, offset table,
# then whole BMP payloads back to back).  The format is a deterministic
# stand-in; the Spark side — binary column in, one row PER SAMPLED FRAME
# out of an Arrow-batched ``mapInPandas`` — is exactly the plumbing an
# ffmpeg/PyAV-backed sampler would use.

_BMPS_MAGIC = b"BMPS"


def encode_bmps(frames: list[bytes]) -> bytes:
    """Pack whole BMP payloads into one BMPS container."""
    import struct

    head = _BMPS_MAGIC + struct.pack("<I", len(frames))
    off = len(head) + 4 * len(frames)
    offsets = []
    for fb in frames:
        offsets.append(off)
        off += len(fb)
    return head + b"".join(struct.pack("<I", o) for o in offsets) + b"".join(frames)


def parse_bmps(b: bytes) -> list[bytes] | None:
    """Split a BMPS container back into per-frame BMP payloads (None if the
    payload is not a well-formed container)."""
    import struct

    if b is None or len(b) < 8 or b[:4] != _BMPS_MAGIC:
        return None
    (n,) = struct.unpack_from("<I", b, 4)
    table_end = 8 + 4 * n
    if n == 0 or table_end > len(b):
        return None
    offsets = list(struct.unpack_from(f"<{n}I", b, 8))
    if any(o < table_end or o > len(b) for o in offsets) or sorted(offsets) != offsets:
        return None
    bounds = offsets + [len(b)]
    return [b[bounds[i] : bounds[i + 1]] for i in range(n)]


FRAME_SCHEMA = (
    "media_id bigint, frame_idx int, n_frames int, frame_payload binary, "
    "width int, height int, err string"
)


def sample_frames(
    media: DataFrame, every_nth: int = 2, max_frames: int | None = None
) -> DataFrame:
    """Real frame sampling over BMPS containers: one output row per kept
    frame (index stride ``every_nth``, optional per-video cap), each row
    carrying the decoded frame's dims and its standalone BMP payload —
    ready for ``decode_image``/``resize_image`` downstream.

    Scale shape: a narrow ``mapInPandas`` stream — no shuffle, no explode
    of undecoded bytes; fan-out happens inside the Arrow batch.  Poison
    payloads yield a single ``err`` row, never a task failure.
    """

    stride = max(1, every_nth)

    def sample_batches(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = {k: [] for k in (
                "media_id", "frame_idx", "n_frames", "frame_payload",
                "width", "height", "err",
            )}

            def emit(mid, idx, n, payload, w, h, err):
                out["media_id"].append(mid)
                out["frame_idx"].append(idx)
                out["n_frames"].append(n)
                out["frame_payload"].append(payload)
                out["width"].append(w)
                out["height"].append(h)
                out["err"].append(err)

            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                frames = parse_bmps(bytes(payload) if payload is not None else None)
                if frames is None:
                    emit(mid, -1, 0, None, 0, 0, "not a BMPS container")
                    continue
                kept = 0
                for idx in range(0, len(frames), stride):
                    if max_frames is not None and kept >= max_frames:
                        break
                    info = parse_bmp(frames[idx])
                    if info is None:
                        emit(mid, idx, len(frames), None, 0, 0,
                             "undecodable frame")
                    else:
                        emit(mid, idx, len(frames), frames[idx],
                             info["width"], info["height"], None)
                    kept += 1
            yield pd.DataFrame(out)

    return media.select("media_id", "payload").mapInPandas(
        sample_batches, schema=FRAME_SCHEMA
    )


def _luma_f64(info: dict):
    """Float64 luma plane from a ``parse_bmp`` result (palette-resolved)."""
    import numpy as np

    px = info["pixels"]
    if info["mode"] == "P":
        pal = info["palette"].astype(np.float64)  # (256, 3) BGR
        bgr = pal[px[:, :, 0]]
    elif info["mode"] in ("BGR", "BGRA"):
        bgr = px[:, :, :3].astype(np.float64)
    else:  # pragma: no cover - parse_bmp only emits the three modes above
        bgr = px.astype(np.float64)
    # ITU-R BT.601 luma; channels are BGR order.
    return 0.114 * bgr[:, :, 0] + 0.587 * bgr[:, :, 1] + 0.299 * bgr[:, :, 2]


def _dct_matrix(n: int):
    """Orthonormal DCT-II matrix (the classic pHash transform basis)."""
    import numpy as np

    k = np.arange(n)[:, None]
    m = np.arange(n)[None, :]
    C = np.cos(np.pi * (2 * m + 1) * k / (2 * n))
    C[0] *= np.sqrt(1.0 / n)
    C[1:] *= np.sqrt(2.0 / n)
    return C


_PHASH_DCT32 = None

# Float noise floor for the median-thresholded hashes.  A value that is
# zero in exact arithmetic comes out of the BLAS-backed DCT at about
# ±1e-15, with a sign that depends on the host's BLAS kernel; values
# within this distance of zero or of the median count as equal to them.
_HASH_EPS = 1e-9


def _median_bits(values) -> int:
    """Signed 64-bit int whose bit i is set iff ``values[i]`` exceeds
    the median by more than ``_HASH_EPS``.  Near-zero values snap to 0
    first and ties at the median leave the bit clear, so the bits depend
    on the input values only, not on float noise in computing them."""
    import numpy as np

    v = np.where(np.abs(values) < _HASH_EPS, 0.0, values)
    med = float(np.median(v))
    bits = 0
    for i, x in enumerate(v):
        if x - med > _HASH_EPS:
            bits |= 1 << i
    if bits >= 1 << 63:
        bits -= 1 << 64
    return bits


def phash64(b: bytes):
    """64-bit perceptual image hash (classic pHash, public algorithm):
    luma → nearest-neighbor 32×32 resize → 2-D orthonormal DCT-II →
    top-left 8×8 low-frequency block → bit i = coeff_i > median
    (``_median_bits``).

    Pure numpy on the built-in BMP parser — deterministic, no codec libs.
    Returns a SIGNED 64-bit int (Spark LongType two's complement) or None
    for payloads the parser rejects.
    """
    import numpy as np

    global _PHASH_DCT32
    info = parse_bmp(b)
    if info is None:
        return None
    luma = _luma_f64(info)
    h, w = luma.shape
    ys = (np.arange(32) * h) // 32
    xs = (np.arange(32) * w) // 32
    small = luma[ys][:, xs]
    if _PHASH_DCT32 is None:
        _PHASH_DCT32 = _dct_matrix(32)
    C = _PHASH_DCT32
    return _median_bits((C @ small @ C.T)[:8, :8].ravel())


def image_phash(media: DataFrame, id_col: str = "media_id",
                payload_col: str = "payload") -> DataFrame:
    """Per-image pHash: one narrow Arrow-batched pass (same shape as
    ``decode_image``); undecodable payloads yield NULL phash + err."""
    import pandas as pd

    def batches(it: Iterator) -> Iterator:
        for pdf in it:
            hashes, errs = [], []
            for b in pdf[payload_col]:
                try:
                    hv = phash64(bytes(b) if b is not None else None)
                    hashes.append(hv)
                    errs.append(None if hv is not None else "not_a_bmp")
                except Exception as e:  # total: never fail the task
                    hashes.append(None)
                    errs.append(type(e).__name__)
            yield pd.DataFrame(
                {"media_id": pdf[id_col], "phash": pd.array(hashes, dtype="Int64"),
                 "err": errs}
            )

    return media.select(id_col, payload_col).mapInPandas(
        batches, "media_id long, phash long, err string"
    )


def image_near_duplicates(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    max_hamming: int = 3,
    blocks: int = 4,
) -> DataFrame:
    """Near-duplicate image pairs by pHash Hamming distance — the image
    side of corpus dedup.  Hashing is one narrow Arrow pass; the pair
    search reuses the SimHash pigeonhole chunk equi-join
    (``dedup.hamming_pairs``) — no cross join at any scale."""
    from etl_pipeline2_0_spark.functions.dedup import hamming_pairs

    sigs = image_phash(media, id_col, payload_col).where(
        F.col("phash").isNotNull()
    )
    return hamming_pairs(
        sigs, id_col="media_id", sig_col="phash",
        max_hamming=max_hamming, blocks=blocks,
    )


def audio_fingerprint64(b: bytes, n_frames: int = 16, n_bands: int = 4):
    """64-bit spectral audio fingerprint (Haitsma–Kalker-style band
    energies, median-thresholded like pHash): mono-ized 16-bit PCM →
    ``n_frames`` equal segments → per-segment DFT magnitude split into
    ``n_bands`` bands (DC dropped) → bit i = energy_i > median of all
    ``n_frames × n_bands`` energies (``_median_bits``).

    Pure numpy over the built-in RIFF/WAVE parser — deterministic, no
    codec libs.  Returns a SIGNED 64-bit int or None for payloads the
    parser rejects (non-WAV, non-16-bit, empty).
    """
    import numpy as np

    info = parse_wav(b)
    if info is None or info["bits_per_sample"] != 16 or info["data_len"] < 2:
        return None
    s = np.frombuffer(
        b, dtype="<i2", count=info["data_len"] // 2, offset=info["data_offset"]
    ).astype(np.float64)
    ch = info["channels"]
    if ch > 1:
        s = s[: (len(s) // ch) * ch].reshape(-1, ch).mean(axis=1)
    if len(s) == 0:
        return None
    need = n_frames * 2 * n_bands  # ≥ 2·n_bands samples per frame
    if len(s) < need:
        s = np.pad(s, (0, need - len(s)))
    cut = (len(s) // n_frames) * n_frames
    frames = s[:cut].reshape(n_frames, -1)
    mags = np.abs(np.fft.rfft(frames, axis=1))[:, 1:]  # drop DC
    k = mags.shape[1] // n_bands
    energies = np.array(
        [mags[:, i * k : (i + 1) * k].sum(axis=1) for i in range(n_bands)]
    ).T
    return _median_bits(energies.ravel())


def audio_fingerprint(media: DataFrame, id_col: str = "media_id",
                      payload_col: str = "payload") -> DataFrame:
    """Per-clip spectral fingerprint: one narrow Arrow-batched pass;
    undecodable payloads yield NULL fingerprint + err."""
    import pandas as pd

    def batches(it: Iterator) -> Iterator:
        for pdf in it:
            hashes, errs = [], []
            for b in pdf[payload_col]:
                try:
                    hv = audio_fingerprint64(bytes(b) if b is not None else None)
                    hashes.append(hv)
                    errs.append(None if hv is not None else "not_pcm16_wav")
                except Exception as e:  # total: never fail the task
                    hashes.append(None)
                    errs.append(type(e).__name__)
            yield pd.DataFrame(
                {"media_id": pdf[id_col],
                 "afp": pd.array(hashes, dtype="Int64"), "err": errs}
            )

    return media.select(id_col, payload_col).mapInPandas(
        batches, "media_id long, afp long, err string"
    )


def audio_near_duplicates(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    max_hamming: int = 4,
    blocks: int = 8,
) -> DataFrame:
    """Near-duplicate audio pairs by spectral-fingerprint Hamming distance
    — the audio side of corpus dedup, completing the text (SimHash) /
    image (pHash) / audio triple on the SAME pigeonhole chunk equi-join
    (``dedup.hamming_pairs``)."""
    from etl_pipeline2_0_spark.functions.dedup import hamming_pairs

    sigs = audio_fingerprint(media, id_col, payload_col).where(
        F.col("afp").isNotNull()
    )
    return hamming_pairs(
        sigs, id_col="media_id", sig_col="afp",
        max_hamming=max_hamming, blocks=blocks,
    )


def frame_phash(frames: DataFrame, id_col: str = "media_id",
                idx_col: str = "frame_idx",
                payload_col: str = "frame_payload") -> DataFrame:
    """pHash per sampled frame: (media_id, frame_idx, phash, err) in one
    narrow Arrow pass over ``sample_frames`` output."""
    import pandas as pd

    def batches(it: Iterator) -> Iterator:
        for pdf in it:
            hashes, errs = [], []
            for b in pdf[payload_col]:
                try:
                    hv = phash64(bytes(b) if b is not None else None)
                    hashes.append(hv)
                    errs.append(None if hv is not None else "not_a_bmp")
                except Exception as e:  # total: never fail the task
                    hashes.append(None)
                    errs.append(type(e).__name__)
            yield pd.DataFrame(
                {"media_id": pdf[id_col], "frame_idx": pdf[idx_col],
                 "phash": pd.array(hashes, dtype="Int64"), "err": errs}
            )

    return frames.select(id_col, idx_col, payload_col).mapInPandas(
        batches, "media_id long, frame_idx int, phash long, err string"
    )


_FRAME_KEY_SPACE = 100_000  # frame_idx must stay below this


def video_near_duplicates(
    media: DataFrame,
    every_nth: int = 1,
    frame_max_hamming: int = 6,
    blocks: int = 8,
    min_common_frames: int = 2,
) -> DataFrame:
    """Near-duplicate video pairs: clips sharing ≥ ``min_common_frames``
    perceptually-near frames (frame pHash within ``frame_max_hamming``) —
    the video side of corpus dedup, built entirely from already-proven
    pieces: ``sample_frames`` (narrow Arrow frame fan-out) → ``frame_phash``
    → the SimHash/pHash pigeonhole chunk equi-join on a composite
    (clip, frame) key → one clip-pair aggregate.

    Output: (id_a, id_b, n_frame_matches), id_a < id_b.

    Scale: no cross join anywhere — frame candidates come from the chunk
    equi-join; the composite key caps ``frame_idx`` at 100 000 per clip
    (beyond any sane sampling stride).
    """
    from etl_pipeline2_0_spark.functions.dedup import hamming_pairs

    frames = sample_frames(media, every_nth=every_nth)
    fp = frame_phash(frames).where(F.col("phash").isNotNull())
    keyed = fp.select(
        (F.col("media_id") * _FRAME_KEY_SPACE + F.col("frame_idx")).alias("fid"),
        "phash",
    )
    pairs = hamming_pairs(
        keyed, id_col="fid", sig_col="phash",
        max_hamming=frame_max_hamming, blocks=blocks,
    )
    # fid is monotone in (clip, frame) so id_a < id_b implies clip_a <= clip_b.
    clip_pairs = pairs.select(
        F.floor(F.col("id_a") / _FRAME_KEY_SPACE).cast("long").alias("id_a"),
        F.floor(F.col("id_b") / _FRAME_KEY_SPACE).cast("long").alias("id_b"),
    ).where(F.col("id_a") != F.col("id_b"))
    return (
        clip_pairs.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_frame_matches"))
        .where(F.col("n_frame_matches") >= min_common_frames)
    )


def media_dhash(
    media: DataFrame,
    kind: str = "image",
    id_col: str = "media_id",
    payload_col: str = "payload",
    stride: int = 1,
) -> DataFrame:
    """64-bit-packed difference hash (dHash — the gradient member of the
    perceptual-hash family, cf. the pHash/aHash/dHash trio the public
    imagehash library ships) computed from DECODED media bytes in one
    narrow Arrow pass: bit *i* is set iff value *i* > value *i+1* over
    the media's sample sequence — per-channel pixel bytes for
    ``kind="image"`` (BMP), ``stride``-strided PCM16 samples for
    ``kind="audio"`` (WAV).  At most the first 64 values contribute
    (≤63 bits), so the signature always fits a non-negative BIGINT and
    rides :func:`~etl_pipeline2_0_spark.functions.dedup.hamming_pairs`'
    pigeonhole chunk equi-join unchanged.

    Unlike :func:`phash64` / :func:`audio_fingerprint64` (float DCT /
    band energies — pandas-only, golden-pinned), dHash bits are
    comparisons of EXACT integer channel/sample values, so an ANSI-SQL
    oracle can reproduce them wherever the pixel/sample values are
    themselves SQL-derivable — which is what gives the multimodal
    near-dup family its fully-oracled measured-recall row
    (``multimodal_neardup_recall``).

    Output: (``id_col``, sig, err) — NULL sig + err for undecodable
    payloads.

    Scale: one ``mapInPandas`` projection, no shuffle; payload bytes
    never leave the scan partition.
    """
    import pandas as pd

    if kind not in ("image", "audio"):
        raise ValueError(f"unknown media_dhash kind: {kind!r}")

    def batches(it: Iterator) -> Iterator:
        import numpy as np

        for pdf in it:
            sigs, errs = [], []
            for b in pdf[payload_col]:
                try:
                    raw = bytes(b) if b is not None else None
                    vals = None
                    if kind == "image":
                        info = parse_bmp(raw)
                        if info is not None:
                            vals = info["pixels"].reshape(-1).tolist()
                    else:
                        info = parse_wav(raw)
                        if (
                            info is not None
                            and info["audio_format"] == 1
                            and info["bits_per_sample"] == 16
                        ):
                            samples = np.frombuffer(
                                raw,
                                dtype="<i2",
                                count=info["n_frames"] * info["channels"],
                                offset=info["data_offset"],
                            )
                            vals = samples[::stride].tolist()
                    if vals is None or len(vals) < 2:
                        sigs.append(None)
                        errs.append("undecodable")
                        continue
                    vals = vals[:64]
                    sig = 0
                    for i in range(len(vals) - 1):
                        if vals[i] > vals[i + 1]:
                            sig |= 1 << i
                    sigs.append(sig)
                    errs.append(None)
                except Exception as e:  # total: never fail the task
                    sigs.append(None)
                    errs.append(type(e).__name__)
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "sig": pd.array(sigs, dtype="Int64"),
                    "err": errs,
                }
            )

    return media.select(id_col, payload_col).mapInPandas(
        batches, "media_id long, sig long, err string"
    )
