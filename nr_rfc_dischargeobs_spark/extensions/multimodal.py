"""Multimodal columns: opaque binary payloads + typed metadata, with
decode / feature-extract / frame-sample stages (SURVEY.md §2.10).

Spark-side design (all real and tested):
- payloads travel as ``BinaryType`` columns next to relational metadata —
  parquet stores them page-compressed, column pruning skips them when a
  plan doesn't touch the bytes;
- decode/feature stages are Arrow-batched ``mapInPandas`` — one Python
  worker per partition, bytes move columnar, never row-at-a-time;
- frame sampling is pure arithmetic on metadata (no decode needed) —
  a generated ``sequence`` expression.

The actual codec calls (PIL/librosa/av) are STUBBED — the libraries are not
in this container.  ``decode_features`` ships a *deterministic byte-feature
kernel* (``mode="bytes"``, default): a fixed header parse plus integer
byte-statistics over the payload, exactly reproducible by a DuckDB twin
with hex/substr blob arithmetic — so the whole mapInPandas stage is
value-hash-oracled end to end, not just rows-counted.  ``mode="real"``
raises ``NotImplementedError`` at the exact call site a codec belongs —
EXCEPT for the pure format: :func:`decode_png` (rounds 12–13) really
decodes gray/gray+alpha/RGB/palette/RGBA PNG at depths 8 and 16,
sequential or Adam7-interlaced, via the stdlib (chunk walk + CRC
verify, ``zlib`` inflate, all five scanline-filter reversals, the §8.2
pass scatter) — it emits exact-integer image features, so the
real-decode tier is exercised end to end without any codec dependency;
JPEG and MP4 stay honestly gated.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: Integer feature columns emitted by :func:`decode_features`; one BIGINT
#: each so the driver's schema/value-hash compare is type-exact cross-engine
#: (a real encoder's float vector has no such oracle).
FEATURE_FIELDS = (
    "header_u32",    # first 4 bytes big-endian (the "magic number" parse)
    "byte_sum",
    "byte_min",
    "byte_max",
    "n_control",     # bytes < 0x20
    "n_high",        # bytes >= 0x80 (non-ASCII density)
    "weighted_sum",  # sum((i+1) * byte[i]) — positional fingerprint
    "even_sum",      # bytes at even offsets (strided-window moment)
)

FEATURE_DIM = len(FEATURE_FIELDS)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("mime", StringType()),
        StructField("n_bytes", LongType()),
    ]
    + [StructField(name, LongType()) for name in FEATURE_FIELDS]
)


def to_blob_table(docs: DataFrame) -> DataFrame:
    """Pose a text column as an opaque binary payload with metadata —
    the schema every real image/audio table shares:
    (id, blob BINARY, mime STRING, n_bytes BIGINT)."""
    blob = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        F.col("doc_id"),
        blob.alias("blob"),
        F.lit("application/octet-stream").alias("mime"),
        F.length(blob).alias("n_bytes"),
    )


def byte_features(payload: bytes) -> dict[str, int]:
    """Deterministic stand-in for a codec+encoder: header parse + integer
    byte statistics, vectorized over the payload.

    Every value is an exact int64 so a DuckDB blob-arithmetic twin
    reproduces it bit-for-bit (``MM_DECODE_FEATURES_SQL``).  The 4-byte
    header is read big-endian, zero-padded when the payload is shorter.
    ``weighted_sum`` stays within int64 for payloads below ~2.6e8 bytes
    (255 * n² / 2 < 2⁶³); larger media should be chunked upstream —
    documented bound, matching the DuckDB twin's BIGINT cast.
    """
    arr = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
    n = arr.size
    header = 0
    for i, bv in enumerate(payload[:4]):
        header += bv << (8 * (3 - i))
    if n == 0:
        return dict.fromkeys(FEATURE_FIELDS, 0)
    idx = np.arange(n, dtype=np.int64)
    return {
        "header_u32": header,
        "byte_sum": int(arr.sum()),
        "byte_min": int(arr.min()),
        "byte_max": int(arr.max()),
        "n_control": int((arr < 32).sum()),
        "n_high": int((arr >= 128).sum()),
        "weighted_sum": int(((idx + 1) * arr).sum()),
        "even_sum": int(arr[::2].sum()),
    }


def decode_features(blobs: DataFrame, mode: str = "bytes") -> DataFrame:
    """Decode + feature-extract over binary payloads via ``mapInPandas``.

    ``mode="bytes"``: deterministic integer byte-feature kernel
    (:func:`byte_features`) — DuckDB-oracled, hash-matched.
    ``mode="real"``: where PIL/librosa/av decode goes — not available in
    this container, so it raises at the exact integration point.

    NULL payloads are treated as empty (all-zero features); ``n_bytes``
    passes through from the input column, so a NULL blob keeps a NULL
    ``n_bytes`` in both engines.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if mode == "real":
                raise NotImplementedError(
                    "codec decode requires image/audio libraries not present "
                    "in this environment; plug PIL/librosa/av here (for "
                    "8/16-bit PNG, decode_png is a real, dependency-free "
                    "decoder)"
                )
            feats = [
                byte_features(b"" if b is None else bytes(b))
                for b in pdf["blob"]
            ]
            out = {
                "doc_id": pdf["doc_id"],
                "mime": pdf["mime"],
                "n_bytes": pdf["n_bytes"],
            }
            for name in FEATURE_FIELDS:
                out[name] = [f[name] for f in feats]
            yield pd.DataFrame(out)

    return blobs.mapInPandas(run, schema=FEATURE_SCHEMA)


def frame_sample_plan(media: DataFrame, every: int = 10) -> DataFrame:
    """Frame-sampling plan: which frame indices to decode for each clip —
    pure metadata arithmetic (``sequence(0, n-1, every)``), exploded to one
    row per (clip, frame).  The decode of those frames is the
    ``decode_features`` stage; planning never touches bytes."""
    return media.select(
        F.col("doc_id"),
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.col("n_frames") - 1, F.lit(0)),
                F.lit(every),
            )
        ).alias("frame_idx"),
    )


def resize_dims(media: DataFrame) -> DataFrame:
    """Resize planning: target dimensions fitting a 256×256 square,
    aspect preserved — pure integer arithmetic on metadata columns
    (``(short_side * 256) div long_side``), exact in any engine.

    Like ``frame_sample_plan``, planning is split from pixel work: the
    per-image resample belongs in the ``decode_features`` mapInPandas stage
    (PIL's ``Image.resize`` at the ``mode="real"`` call site); the plan
    tier never touches bytes, so a 100 TB media table plans its resize
    pass from kilobytes of metadata."""
    w, h = F.col("width"), F.col("height")
    landscape = w >= h
    new_w = F.when(landscape, F.lit(256)).otherwise(
        F.greatest(F.expr("(width * 256) div height"), F.lit(1))
    )
    new_h = F.when(~landscape, F.lit(256)).otherwise(
        F.greatest(F.expr("(height * 256) div width"), F.lit(1))
    )
    return media.select(
        F.col("doc_id"),
        w.alias("width"),
        h.alias("height"),
        new_w.alias("target_width"),
        new_h.alias("target_height"),
    )


# ---------------------------------------------------------------------------
# rounds 12-13: a REAL decoder via the stdlib — PNG (all five
# color types at depths 8/16, sequential + Adam7).  zlib ships with
# Python, so inflate + per-scanline filter reversal + the pass scatter
# need no codec library; JPEG/MP4 stay honestly gated.
# ---------------------------------------------------------------------------

PNG_SIG = b"\x89PNG\r\n\x1a\n"

PNG_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("mime", StringType()),
        StructField("n_bytes", LongType()),
        StructField("png_ok", LongType()),       # 1 decoded / 0 rejected
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("channels", LongType()),     # 1 gray / 2 gray+alpha / 3 RGB / 4 RGBA
        StructField("n_pixels", LongType()),
        # exact-integer features over the decoded raw pixel stream in
        # row-major RGB(A) order: the positional weighted sum pins byte
        # ORDER (a channel swap, row flip, or filter slip all change it)
        StructField("byte_sum", LongType()),
        StructField("weighted_sum", LongType()),  # Σ (k+1)·byte[k]
    ]
)


def _paeth(a: int, b: int, c: int) -> int:
    """The Paeth predictor (PNG spec §9, filter type 4)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


# Adam7 pass grid: (x_start, y_start, x_step, y_step) per pass — the
# spec §8.2 interlace pattern.  Each pass is an independently filtered
# sub-image; empty passes (zero width or height) contribute no bytes.
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _unfilter(
    raw: bytes, offset: int, h: int, stride: int, bpp: int
) -> np.ndarray | None:
    """Reverse the five PNG scanline filters over ``h`` lines of
    ``stride`` bytes starting at ``offset`` (each line prefixed by its
    filter-type byte) — the shared kernel under both the sequential
    (whole image) and Adam7 (per pass) layouts.  Returns the
    reconstructed ``(h, stride)`` uint8 array, or ``None`` on an
    unknown filter type.  Types 1/3/4 reverse via a per-byte loop —
    inherently sequential (each byte depends on the reconstructed left
    neighbor), documented fixture/edge-scale."""
    out = np.zeros((h, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        base = offset + y * (1 + stride)
        ft = raw[base]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=base + 1
        ).astype(np.int64)
        if ft == 0:
            recon = line
        elif ft == 2:
            recon = (line + prior) & 0xFF
        elif ft in (1, 3, 4):
            recon = np.zeros(stride, dtype=np.int64)
            for x in range(stride):
                left = recon[x - bpp] if x >= bpp else 0
                if ft == 1:
                    pred = left
                elif ft == 3:
                    pred = (left + prior[x]) >> 1
                else:
                    upleft = prior[x - bpp] if x >= bpp else 0
                    pred = _paeth(int(left), int(prior[x]), int(upleft))
                recon[x] = (line[x] + pred) & 0xFF
        else:
            return None  # unknown filter type
        out[y] = recon
        prior = recon.astype(np.int64)
    return out


def png_pixels(payload: bytes) -> np.ndarray | None:
    """Decode a PNG to an (h, w, c) array — stdlib
    only: chunk walk with CRC verification, IDAT concatenation through
    ``zlib.decompress``, then per-scanline reversal of all five PNG
    filters (None/Sub/Up/Average/Paeth).  Covered profiles: grayscale
    (color type 0 → c=1), RGB (2 → c=3), palette (3 → the PLTE lookup
    expands to c=3), gray+alpha (4 → c=2), RGBA (6 → c=4), at bit
    depth 8 (uint8 out) and — for the non-palette types — depth 16
    (big-endian samples, uint16 out; filters operate on BYTES with the
    left-neighbor offset at bytes-per-pixel, per spec §9), sequential
    AND Adam7-interlaced layouts (spec §8.2: seven independently
    filtered sub-images scattered onto the full grid).  Returns
    ``None`` for anything outside these profiles (bad signature or
    CRC, sub-byte depths, 16-bit palette, palette
    without/overflowing PLTE, truncated or over-long inflate output)
    — fail-soft: the caller decides whether that is an error or a
    skip.

    The filter reversal is sequential by construction (each byte
    depends on the reconstructed left neighbor), so this is a
    fixture/edge decoder: honest real decode for small images, while
    bulk media at 100 TB still belongs behind a native codec at the
    ``mode="real"`` call site."""
    import struct
    import zlib

    if len(payload) < 8 + 25 or payload[:8] != PNG_SIG:
        return None
    pos, ihdr, idat, plte = 8, None, [], None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos:pos + 4])
        ctype = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + length]
        crc = payload[pos + 8 + length:pos + 12 + length]
        if len(data) < length or len(crc) < 4:
            return None  # truncated chunk
        if zlib.crc32(ctype + data) != struct.unpack(">I", crc)[0]:
            return None  # corrupt chunk
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None or len(ihdr) != 13 or not idat:
        return None
    w, h, depth, color, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr
    )
    if depth not in (8, 16) or color not in (0, 2, 3, 4, 6):
        return None
    if comp or filt or interlace not in (0, 1):
        return None
    if color == 3 and depth != 8:
        return None  # the spec caps palette indices at 8 bits
    if w == 0 or h == 0 or w * h > 50_000_000:  # 50MP sanity bound
        return None
    if color == 3 and (plte is None or len(plte) % 3 or not plte):
        return None  # palette image without a usable PLTE
    c = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error:
        return None
    bpp = c * (depth // 8)  # filter offset is BYTES per pixel (spec §9)
    stride = w * bpp
    if interlace == 0:
        if len(raw) != h * (1 + stride):
            return None
        out = _unfilter(raw, 0, h, stride, bpp)
        if out is None:
            return None
    else:
        # Adam7: each non-empty pass is its own filtered sub-image
        # (filter state resets per pass), scattered back onto the full
        # byte grid at the pass's (x0, y0, dx, dy) lattice
        plan = []
        total = 0
        for x0, y0, dx, dy in _ADAM7:
            wp = (w - x0 + dx - 1) // dx
            hp = (h - y0 + dy - 1) // dy
            if wp <= 0 or hp <= 0:
                continue
            plan.append((x0, y0, dx, dy, wp, hp, total))
            total += hp * (1 + wp * bpp)
        if len(raw) != total:
            return None
        out = np.zeros((h, stride), dtype=np.uint8)
        for x0, y0, dx, dy, wp, hp, offset in plan:
            sub = _unfilter(raw, offset, hp, wp * bpp, bpp)
            if sub is None:
                return None
            rows = np.arange(y0, h, dy)
            cols = np.arange(x0, w, dx) * bpp
            for b in range(bpp):
                out[np.ix_(rows, cols + b)] = sub[:, b::bpp]
    if color == 3:
        # palette expansion: each reconstructed byte indexes PLTE's RGB
        # triples; an index past the palette is a corrupt image
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = out.reshape(h, w)
        if int(idx.max(initial=0)) >= pal.shape[0]:
            return None
        return pal[idx]
    if depth == 16:
        # big-endian 16-bit samples: recombine the reconstructed bytes
        hi = out[:, 0::2].astype(np.uint16)
        lo = out[:, 1::2].astype(np.uint16)
        return ((hi << 8) | lo).reshape(h, w, c)
    return out.reshape(h, w, c)


def _filter_lines(flat: np.ndarray, bpp: int, y0: int = 0) -> list[bytes]:
    """Apply the forward PNG scanline filters to a ``(h, stride)``
    int64 byte grid — one prefixed line per row, filter state starting
    fresh (prior = zeros), the shared kernel under the sequential and
    Adam7 layouts.  ``y0`` offsets the filter rotation so interlaced
    passes keep cycling through all five types across pass
    boundaries."""
    stride = flat.shape[1]
    lines: list[bytes] = []
    prior = np.zeros(stride, dtype=np.int64)
    for y in range(flat.shape[0]):
        row = flat[y]
        ft = (y0 + y) % 5
        if ft == 0:
            enc = row
        elif ft == 1:
            left = np.concatenate([np.zeros(bpp, dtype=np.int64),
                                   row[:-bpp]])
            enc = (row - left) & 0xFF
        elif ft == 2:
            enc = (row - prior) & 0xFF
        elif ft == 3:
            left = np.concatenate([np.zeros(bpp, dtype=np.int64),
                                   row[:-bpp]])
            enc = (row - ((left + prior) >> 1)) & 0xFF
        else:
            enc = np.zeros(stride, dtype=np.int64)
            for x in range(stride):
                left = row[x - bpp] if x >= bpp else 0
                upleft = prior[x - bpp] if x >= bpp else 0
                enc[x] = (
                    row[x]
                    - _paeth(int(left), int(prior[x]), int(upleft))
                ) & 0xFF
        lines.append(bytes([ft]) + bytes(enc.astype(np.uint8)))
        prior = row
    return lines


def encode_png(pixels: np.ndarray, interlace: bool = False) -> bytes:
    """The inverse path, used by fixtures and the registered decode
    row's deterministic payload generator: encode an (h, w, 1|2|3|4)
    uint8 (depth 8) or uint16 (depth 16, big-endian) array as a valid
    PNG (grayscale / gray+alpha / RGB / RGBA).  The rows rotate
    through all five filter types so a decode of the output exercises
    every reversal arm.
    ``interlace=True`` writes the Adam7 layout (spec §8.2): the byte
    grid is sliced into the seven pass lattices, each pass filtered as
    its own sub-image with fresh filter state.  Independent
    arithmetic from :func:`png_pixels` (forward filters + forward
    pass extraction here, inverse reversal + scatter there), and the
    unit tests additionally pin the decoder against hand-built
    arrays — so an encoder bug cannot silently cancel a
    decoder bug."""
    import struct
    import zlib

    h, w, c = pixels.shape
    if c not in (1, 2, 3, 4) or pixels.dtype not in (np.uint8, np.uint16):
        raise ValueError(
            "encode_png takes (h, w, 1|2|3|4) uint8 or uint16 pixels"
        )
    depth = 8 if pixels.dtype == np.uint8 else 16
    # filters operate on the BYTE stream with the left neighbor at
    # bytes-per-pixel (spec §9) — 16-bit samples serialize big-endian
    # first, so one filter implementation covers both depths and stays
    # the exact inverse of png_pixels' reversal
    bpp = c * (depth // 8)
    stride = w * bpp
    flat = (
        np.ascontiguousarray(pixels.reshape(h, w * c).astype(">u2"))
        .view(np.uint8)
        if depth == 16
        else pixels.reshape(h, stride)
    ).astype(np.int64)
    if not interlace:
        lines = _filter_lines(flat, bpp)
    else:
        lines = []
        n_lines = 0
        for x0, y0, dx, dy in _ADAM7:
            wp = (w - x0 + dx - 1) // dx
            hp = (h - y0 + dy - 1) // dy
            if wp <= 0 or hp <= 0:
                continue
            rows = np.arange(y0, h, dy)
            cols = np.arange(x0, w, dx) * bpp
            sub = np.zeros((hp, wp * bpp), dtype=np.int64)
            for b in range(bpp):
                sub[:, b::bpp] = flat[np.ix_(rows, cols + b)]
            lines.extend(_filter_lines(sub, bpp, y0=n_lines))
            n_lines += hp

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(
        ">IIBBBBB", w, h, depth, {1: 0, 2: 4, 3: 2, 4: 6}[c], 0, 0,
        1 if interlace else 0,
    )
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + chunk(b"IEND", b"")
    )


def decode_png(blobs: DataFrame) -> DataFrame:
    """Real PNG decode over binary payloads (gray / gray+alpha / RGB /
    palette / RGBA at depth 8; the non-palette types at depth 16 too;
    sequential or Adam7-interlaced layouts —
    see :func:`png_pixels`) — the real-decode stage for the pure
    format: Arrow-batched ``mapInPandas`` over (doc_id, blob, mime,
    n_bytes), each payload through :func:`png_pixels`, exact-integer
    features out (dimensions, channel count, byte sum, positional
    weighted sum over the decoded row-major stream).  Rejected payloads
    emit ``png_ok = 0`` with NULL features — fail-soft, one row per
    input."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": pdf["doc_id"],
                "mime": pdf["mime"],
                "n_bytes": pdf["n_bytes"],
                "png_ok": [],
                "width": [],
                "height": [],
                "channels": [],
                "n_pixels": [],
                "byte_sum": [],
                "weighted_sum": [],
            }
            for b in pdf["blob"]:
                px = None if b is None else png_pixels(bytes(b))
                if px is None:
                    out["png_ok"].append(0)
                    for k in ("width", "height", "channels", "n_pixels",
                              "byte_sum", "weighted_sum"):
                        out[k].append(None)
                    continue
                h, w, c = px.shape
                flat = px.reshape(-1).astype(np.int64)
                out["png_ok"].append(1)
                out["width"].append(w)
                out["height"].append(h)
                out["channels"].append(c)
                out["n_pixels"].append(h * w)
                out["byte_sum"].append(int(flat.sum()))
                out["weighted_sum"].append(
                    int(((np.arange(flat.size, dtype=np.int64) + 1)
                         * flat).sum())
                )
            yield pd.DataFrame(out)

    return blobs.mapInPandas(run, schema=PNG_SCHEMA)


def png_fixture_blobs(ids: DataFrame) -> DataFrame:
    """Deterministic PNG payloads from bare ids — the registered decode
    row's input generator: doc ``d`` becomes a ``((d % 3) + 2) ×
    ((d % 5) + 2)`` image, RGBA for odd ids and RGB for even, raw pixel
    byte ``k = (d·31 + k·7) mod 256``, encoded through
    :func:`encode_png` with cycling filter types.  Because the pixel
    stream is pure id arithmetic, a DuckDB twin recomputes the decoded
    features without touching PNG at all — the oracle checks the whole
    encode→store→decode round trip against independent arithmetic.
    Arrow-batched like the decoders; payloads are generated on the
    executors, never the driver."""
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("blob", BinaryType()),
            StructField("mime", StringType()),
            StructField("n_bytes", LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs, nb = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = d % 5 + 2, d % 3 + 2
                c = 4 if d % 2 else 3
                n = w * h * c
                flat = (
                    (d * 31 + np.arange(n, dtype=np.int64) * 7) % 256
                ).astype(np.uint8)
                b = encode_png(flat.reshape(h, w, c))
                blobs.append(b)
                nb.append(len(b))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "blob": blobs,
                    "mime": ["image/png"] * len(blobs),
                    "n_bytes": nb,
                }
            )

    return ids.mapInPandas(run, schema=schema)


def png_fixture_blobs_wide(ids: DataFrame) -> DataFrame:
    """:func:`png_fixture_blobs` for the WIDENED profile grid (round
    13): doc ``d`` becomes a ``((d % 3) + 2) × ((d % 5) + 2)`` image
    with ``(d % 4) + 1`` channels — gray / gray+alpha / RGB / RGBA —
    at bit depth 16 when ``d % 3 = 0`` (big-endian samples,
    ``sample k = (d·97 + k·13) mod 65536``) and depth 8 otherwise
    (``sample k = (d·31 + k·7) mod 256``), encoded through
    :func:`encode_png` with cycling filters — and every ``d % 7 = 1``
    doc written ADAM7-INTERLACED: the decoded pixels are identical by
    construction, so the unchanged arithmetic twin also witnesses the
    interlace pass scatter end to end.  Pure id arithmetic, so
    the DuckDB twin recomputes the decoded per-sample features without
    touching PNG — every new r13 profile sits under the same
    encode→decode round-trip hash the 8-bit RGB/RGBA row pinned."""
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("blob", BinaryType()),
            StructField("mime", StringType()),
            StructField("n_bytes", LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs, nb = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h, c = d % 5 + 2, d % 3 + 2, d % 4 + 1
                n = w * h * c
                k = np.arange(n, dtype=np.int64)
                if d % 3 == 0:
                    flat = ((d * 97 + k * 13) % 65536).astype(np.uint16)
                else:
                    flat = ((d * 31 + k * 7) % 256).astype(np.uint8)
                b = encode_png(flat.reshape(h, w, c),
                               interlace=(d % 7 == 1))
                blobs.append(b)
                nb.append(len(b))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "blob": blobs,
                    "mime": ["image/png"] * len(blobs),
                    "n_bytes": nb,
                }
            )

    return ids.mapInPandas(run, schema=schema)


# ---------------------------------------------------------------------------
# round 13: the JPEG HEADER tier — a real marker-segment walk (the
# metadata a 100 TB curation pipeline extracts to filter/route images
# BEFORE deciding what to decode: dimensions, component count,
# baseline-vs-progressive, Exif presence).  Entropy decode (the actual
# pixels) stays honestly gated behind the mode="real" call site — only
# the header structure is parsed, and that parse is complete and real:
# big-endian segment lengths, fill-byte tolerance, standalone markers,
# every SOFn variant, stop at SOS.
# ---------------------------------------------------------------------------

JPEG_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("mime", StringType()),
        StructField("n_bytes", LongType()),
        StructField("jpeg_ok", LongType()),   # 1 parsed / 0 rejected
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("channels", LongType()),
        StructField("precision", LongType()),
        StructField("progressive", LongType()),
        StructField("n_segments", LongType()),
        StructField("has_jfif", LongType()),
        StructField("has_exif", LongType()),
    ]
)


def jpeg_header(payload: bytes) -> dict | None:
    """Parse a JPEG's marker-segment header region — stdlib-only, no
    entropy decode: SOI, then a walk of length-prefixed segments
    (tolerating 0xFF fill bytes before markers and the standalone
    RST/TEM markers), stopping at SOS (start of entropy-coded data) or
    EOI.  The frame header (any SOFn except the non-frame DHT/JPG/DAC
    codes C4/C8/CC) yields sample precision, height, width, and
    component count; SOF2 marks the stream progressive.  APP0/APP1
    identifiers flag JFIF/Exif presence.  Returns ``None`` fail-soft
    (like :func:`png_pixels`) for anything structurally broken: missing
    SOI, a non-marker byte where a marker must be, a segment length
    pointing past the payload, a truncated SOF, or no SOF before
    SOS/EOI.  Pixel decode stays gated at the ``mode="real"`` call
    site — this tier answers the metadata questions only."""
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        return None
    pos = 2
    n_segments = 0
    sof = None
    progressive = 0
    has_jfif = has_exif = 0
    while pos + 2 <= len(payload):
        # optional fill bytes: any run of 0xFF collapses before the
        # marker code (spec B.1.1.2)
        while pos + 1 < len(payload) and payload[pos] == 0xFF \
                and payload[pos + 1] == 0xFF:
            pos += 1
        if payload[pos] != 0xFF:
            return None
        marker = payload[pos + 1]
        pos += 2
        if marker in (0xD9, 0xDA):  # EOI / SOS: header region ends
            break
        if 0xD0 <= marker <= 0xD7 or marker == 0x01:  # standalone
            continue
        if pos + 2 > len(payload):
            return None
        seglen = int.from_bytes(payload[pos:pos + 2], "big")
        if seglen < 2 or pos + seglen > len(payload):
            return None
        data = payload[pos + 2:pos + seglen]
        n_segments += 1
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if len(data) < 6:
                return None
            ncomp = data[5]
            if len(data) < 6 + 3 * ncomp:
                return None
            sof = (
                int(data[0]),
                int.from_bytes(data[1:3], "big"),
                int.from_bytes(data[3:5], "big"),
                int(ncomp),
            )
            progressive = 1 if marker == 0xC2 else 0
        elif marker == 0xE0 and data[:5] == b"JFIF\x00":
            has_jfif = 1
        elif marker == 0xE1 and data[:6] == b"Exif\x00\x00":
            has_exif = 1
        pos += seglen
    if sof is None:
        return None
    precision, height, width, ncomp = sof
    return {
        "width": width,
        "height": height,
        "channels": ncomp,
        "precision": precision,
        "progressive": progressive,
        "n_segments": n_segments,
        "has_jfif": has_jfif,
        "has_exif": has_exif,
    }


def decode_jpeg_headers(blobs: DataFrame) -> DataFrame:
    """JPEG header metadata over binary payloads — the
    :func:`decode_png` posture for the marker-walk tier:
    Arrow-batched ``mapInPandas`` over (doc_id, blob, mime, n_bytes),
    each payload through :func:`jpeg_header`, exact-integer metadata
    out.  Structurally broken payloads emit ``jpeg_ok = 0`` with NULL
    fields — fail-soft, one row per input."""

    fields = ("width", "height", "channels", "precision",
              "progressive", "n_segments", "has_jfif", "has_exif")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": pdf["doc_id"],
                "mime": pdf["mime"],
                "n_bytes": pdf["n_bytes"],
                "jpeg_ok": [],
                **{f: [] for f in fields},
            }
            for b in pdf["blob"]:
                hdr = None if b is None else jpeg_header(bytes(b))
                if hdr is None:
                    out["jpeg_ok"].append(0)
                    for f in fields:
                        out[f].append(None)
                    continue
                out["jpeg_ok"].append(1)
                for f in fields:
                    out[f].append(hdr[f])
            yield pd.DataFrame(out)

    return blobs.mapInPandas(run, schema=JPEG_SCHEMA)


def jpeg_fixture_blobs(ids: DataFrame) -> DataFrame:
    """Deterministic JPEG header streams from bare ids — the
    registered header row's input generator, the
    :func:`png_fixture_blobs` pattern: doc ``d`` becomes a
    structurally valid JPEG header region (SOI, JFIF APP0, an Exif
    APP1 of id-dependent length when ``d % 3 = 0`` — so the walk must
    use the big-endian segment lengths, not fixed offsets — a DQT, the
    frame header, a DHT, then SOS + deterministic entropy filler +
    EOI) with SOF0 for even ids and progressive SOF2 for odd, ``width
    = (d·7) % 300 + 16``, ``height = (d·11) % 200 + 16``, grayscale
    (1 component) when ``d % 5 = 0`` else YCbCr (3).  The entropy
    bytes are filler — the parser stops at SOS by contract — which is
    exactly the honesty line: header structure real, pixel decode
    gated.  Pure id arithmetic, so a DuckDB twin recomputes every
    extracted field without touching JPEG."""
    import struct

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("blob", BinaryType()),
            StructField("mime", StringType()),
            StructField("n_bytes", LongType()),
        ]
    )

    def seg(marker: int, data: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(
            ">H", len(data) + 2
        ) + data

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs, nb = [], []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = (d * 7) % 300 + 16, (d * 11) % 200 + 16
                ncomp = 1 if d % 5 == 0 else 3
                b = b"\xff\xd8"  # SOI
                b += seg(0xE0, b"JFIF\x00" + bytes([1, 2, 0])
                         + b"\x00\x01\x00\x01\x00\x00")
                if d % 3 == 0:
                    exif = bytes((d + i) % 256
                                 for i in range(d % 17 + 8))
                    b += seg(0xE1, b"Exif\x00\x00" + exif)
                b += seg(0xDB, bytes([0]) + bytes(
                    (d + i) % 255 for i in range(64)))  # DQT
                sof = bytes([8]) + struct.pack(">HH", h, w) \
                    + bytes([ncomp])
                for i in range(ncomp):
                    sof += bytes([i + 1, 0x11, 0])
                b += seg(0xC2 if d % 2 else 0xC0, sof)
                b += seg(0xC4, bytes([0]) + bytes(16))  # DHT stub
                sos = bytes([ncomp])
                for i in range(ncomp):
                    sos += bytes([i + 1, 0])
                sos += bytes([0, 63, 0])
                b += seg(0xDA, sos)
                # entropy filler (never parsed) + EOI
                b += bytes((d * 3 + i) % 255 for i in range(8))
                b += b"\xff\xd9"
                blobs.append(b)
                nb.append(len(b))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "blob": blobs,
                    "mime": ["image/jpeg"] * len(blobs),
                    "n_bytes": nb,
                }
            )

    return ids.mapInPandas(run, schema=schema)
