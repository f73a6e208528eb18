"""Multimodal column plumbing: media rows as opaque binary columns with
typed metadata, images featurized via Arrow-batched ``mapInPandas``.

- ``media_metadata`` reads a media table without decoding any payload:
  every output column is a JVM expression (byte length, magic-prefix
  hex, content hash), so it runs at scan speed and the blob never
  reaches Python.
- ``extract_image_features`` decodes image payloads with no image
  library: PPM/PGM/PNM, BMP (incl. palette and RLE), ICO, PNG (all
  filters, depths, palette, Adam7), GIF (from-scratch LZW, interlace),
  TGA (``operators/tga.py``) and TIFF (``operators/tiff.py``). JPEG is
  not decoded. The feature is a real nearest-neighbour 8x8 grayscale
  thumbnail. A row whose codec is unsupported or whose payload is
  corrupt gets a per-row ``err`` instead of failing the batch (the
  engine's S9 dead-letter rule applied to media). ``decode_stub=True``
  swaps in a deterministic fake decode so the pipeline shape is
  exercised without fixtures.

Binary payloads never leave the executor: ``mapInPandas`` streams Arrow
record batches, so a 10 MB image is one cell in one batch, not a row
copied through the driver. Feature extraction emits small fixed-width
columns (dims, hash, feature); downstream joins/dedup read those, never
the blob.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("mime", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("sha256", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
        T.StructField("err", T.StringType(), True),
    ]
)


def decode_image(payload: bytes):
    """REAL image decode for library-free formats → (width, height, gray)
    where ``gray`` is a float64 HxW numpy array in [0, 255].

    Supported: binary PPM (``P6``, RGB) / PGM (``P5``, gray) with
    comment-tolerant headers at 8-bit AND 16-bit maxval (2-byte
    big-endian samples rescaled to [0, 255] — round 5), and uncompressed
    BMP (BITMAPINFOHEADER; bottom-up row order, 4-byte row padding) at
    24-bit or 8-bit palette (BGRA color table — round 5). Compressed
    codecs raise ``NotImplementedError`` — the declared seam where PIL
    plugs in."""
    import numpy as np

    if payload[:2] in (b"P6", b"P5"):
        # header = magic, width, height, maxval as whitespace-separated
        # tokens; '#' comments run to end-of-line; pixel data starts one
        # whitespace byte after maxval
        tokens, i = [], 2
        while len(tokens) < 3:
            while i < len(payload) and payload[i : i + 1].isspace():
                i += 1
            if payload[i : i + 1] == b"#":
                while i < len(payload) and payload[i : i + 1] != b"\n":
                    i += 1
                continue
            j = i
            while j < len(payload) and not payload[j : j + 1].isspace():
                j += 1
            tokens.append(int(payload[i:j]))
            i = j
        i += 1  # single whitespace after maxval
        w, h, maxval = tokens
        ch = 3 if payload[:2] == b"P6" else 1
        if maxval > 255:
            # wide PNM (round 5): 2-byte big-endian samples (Netpbm spec)
            if maxval > 65535:
                raise ValueError(f"PNM maxval {maxval} out of spec")
            px = np.frombuffer(
                payload, dtype=">u2", count=w * h * ch, offset=i
            ).astype(np.float64)
        else:
            px = np.frombuffer(
                payload, dtype=np.uint8, count=w * h * ch, offset=i
            ).astype(np.float64)
        if maxval != 255:
            # the gray contract stays [0, 255] for EVERY maxval — sub-255
            # 8-bit files (e.g. maxval 100) rescale exactly like wide
            # ones, so two renderings of the same image at different
            # maxvals produce the same plane (round-5 review finding: the
            # rescale was only applied to the >255 case)
            px *= 255.0 / maxval
        if ch == 3:
            rgb = px.reshape(h, w, 3)
            gray = 0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]
        else:
            gray = px.reshape(h, w)
        return w, h, gray
    if payload[:2] == b"BM":
        off = int.from_bytes(payload[10:14], "little")
        w = int.from_bytes(payload[18:22], "little", signed=True)
        h = int.from_bytes(payload[22:26], "little", signed=True)
        bpp = int.from_bytes(payload[28:30], "little")
        compression = int.from_bytes(payload[30:34], "little")
        if (
            bpp not in (1, 4, 8, 24, 32)
            or compression not in (0, 1, 2)
            or (compression == 1 and bpp != 8)
            or (compression == 2 and bpp != 4)
        ):
            raise NotImplementedError(f"BMP bpp={bpp} compression={compression}")
        import numpy as np

        bottom_up = h > 0
        h = abs(h)
        # bomb cap BEFORE any allocation (same 268 Mpx posture as TIFF /
        # TGA): the RLE paths allocate the full index plane up front, so
        # a crafted header must not get to size it
        if w <= 0 or h <= 0 or w * h > 1 << 28:
            raise ValueError(f"BMP dimensions {w}x{h} exceed the decoder cap")
        if bpp not in (24, 32):
            # palette BMP (round 5): BGRA quads follow the info header;
            # biClrUsed 0 means a full-size table; 1/4-bit rows pack
            # MSB-first; BI_RLE8/BI_RLE4 (compression 1/2) run-length decode
            hdr_size = int.from_bytes(payload[14:18], "little")
            n_colors = int.from_bytes(payload[46:50], "little") or (1 << bpp)
            pal = (
                np.frombuffer(
                    payload, dtype=np.uint8, count=n_colors * 4, offset=14 + hdr_size
                )
                .reshape(n_colors, 4)
                .astype(np.float64)
            )
            if compression in (1, 2):  # BI_RLE8 / BI_RLE4: runs/escapes/absolute
                idx = np.zeros((h, w), np.uint8)
                x = y = 0
                i2 = off
                rle4 = compression == 2
                while i2 + 1 < len(payload):
                    a, b = payload[i2], payload[i2 + 1]
                    i2 += 2
                    if a:  # run of a pixels (RLE4: the two nibbles alternate,
                        # high first — an odd run ends on the high nibble)
                        if y >= h or x + a > w:
                            raise ValueError("BMP RLE run out of bounds")
                        if rle4:
                            idx[y, x : x + a] = np.resize(
                                np.array([b >> 4, b & 0xF], np.uint8), a
                            )
                        else:
                            idx[y, x : x + a] = b
                        x += a
                    elif b == 0:  # end of line
                        x, y = 0, y + 1
                    elif b == 1:  # end of bitmap
                        break
                    elif b == 2:  # delta: skipped cells stay color 0
                        x += payload[i2]
                        y += payload[i2 + 1]
                        i2 += 2
                        if y >= h or x > w:
                            raise ValueError("BMP RLE delta out of bounds")
                    else:  # absolute mode: b literal pixels (RLE4: packed
                        # nibbles, high first), source padded to an even
                        # BYTE count
                        nb = (b + 1) // 2 if rle4 else b
                        if y >= h or x + b > w or i2 + nb > len(payload):
                            raise ValueError("BMP RLE absolute out of bounds")
                        if rle4:
                            byts = np.frombuffer(payload, np.uint8, nb, i2)
                            nibs = np.empty(nb * 2, np.uint8)
                            nibs[0::2] = byts >> 4
                            nibs[1::2] = byts & 0xF
                            idx[y, x : x + b] = nibs[:b]
                        else:
                            idx[y, x : x + b] = np.frombuffer(payload, np.uint8, b, i2)
                        x += b
                        i2 += nb + (nb & 1)
                else:
                    raise ValueError("truncated BMP RLE stream")
            else:
                stride = (((w * bpp + 7) // 8) + 3) & ~3
                rows = np.frombuffer(
                    payload, np.uint8, count=stride * h, offset=off
                ).reshape(h, stride)
                if bpp == 8:
                    idx = rows[:, :w]
                else:  # 1/4-bit: MSB-first packed fields (shared helper)
                    from french_admin_etl_spark.operators.tiff import (
                        unpack_msb_fields,
                    )

                    idx = unpack_msb_fields(rows, bpp, w)
            if int(idx.max()) >= n_colors:
                raise ValueError("BMP palette index out of range")
            bgr = pal[idx][:, :, :3]
        else:
            nb = bpp // 8  # 24-bit BGR or 32-bit BGRA (alpha ignored)
            stride = (w * nb + 3) & ~3  # rows pad to 4 bytes
            rows = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=off)
            bgr = (
                rows.reshape(h, stride)[:, : w * nb]
                .reshape(h, w, nb)[:, :, :3]
                .astype(np.float64)
            )
        if bottom_up:
            bgr = bgr[::-1]
        gray = 0.299 * bgr[:, :, 2] + 0.587 * bgr[:, :, 1] + 0.114 * bgr[:, :, 0]
        return w, h, gray
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return _decode_png(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return _decode_gif(payload)
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        # baseline TIFF, from-scratch (operators/tiff.py): strips or
        # tiles, none / LZW / PackBits, gray / RGB / palette, predictor
        # 2, both planar configs, both byte orders; planar-2-with-tiles
        # raises = the declared seam
        from french_admin_etl_spark.operators.tiff import decode_tiff

        return decode_tiff(payload)
    if (
        payload[:4] == b"\x00\x00\x01\x00"
        and len(payload) >= 6
        and 0 < int.from_bytes(payload[4:6], "little") <= 1024
    ):
        # ICO (favicon container): decode the LARGEST entry — each image
        # is either an embedded PNG or a headerless BMP DIB, both routed
        # back through this function's own branches
        return _decode_ico(payload)
    # TGA last: the format has no magic number, so this is a header
    # plausibility check (v2 footer conclusive when present); a false
    # positive dead-letters one row like any other undecodable payload
    from french_admin_etl_spark.operators.tga import decode_tga, looks_like_tga

    if looks_like_tga(payload):
        return decode_tga(payload)
    raise NotImplementedError(
        f"codec not decodable without image libraries (magic {payload[:4]!r})"
    )


def _decode_ico(payload: bytes):
    """ICO favicon container: ICONDIR + 16-byte entries, each pointing
    at either an embedded PNG (magic-detected) or a headerless BMP DIB
    whose BITMAPINFOHEADER height is DOUBLED (XOR color mask + AND
    transparency mask stacked). Decodes the largest entry by routing it
    back through ``decode_image`` — the DIB case synthesizes the 14-byte
    ``BM`` file header (pixel offset = 14 + header + palette) and halves
    the height; the trailing AND mask is simply never read (the BMP
    branch consumes exactly stride×h from the pixel offset). Alpha /
    transparency is ignored per the gray contract."""
    count = int.from_bytes(payload[4:6], "little")
    best = None  # (area, offset, size)
    for k in range(count):
        e = 6 + 16 * k
        if e + 16 > len(payload):
            raise ValueError("truncated ICO directory")
        ew = payload[e] or 256  # 0 encodes 256
        eh = payload[e + 1] or 256
        size = int.from_bytes(payload[e + 8 : e + 12], "little")
        off = int.from_bytes(payload[e + 12 : e + 16], "little")
        if off + size > len(payload) or size < 16:
            raise ValueError("ICO entry out of bounds")
        if best is None or ew * eh > best[0]:
            best = (ew * eh, off, size)
    if best is None:
        raise ValueError("empty ICO directory")
    blob = payload[best[1] : best[1] + best[2]]
    if blob[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_image(blob)
    hdr_size = int.from_bytes(blob[0:4], "little")
    if hdr_size < 40 or hdr_size > len(blob):
        raise ValueError(f"bad ICO DIB header size {hdr_size}")
    dib_h = int.from_bytes(blob[8:12], "little", signed=True)
    bpp = int.from_bytes(blob[14:16], "little")
    clr_used = int.from_bytes(blob[32:36], "little")
    n_colors = clr_used or ((1 << bpp) if bpp <= 8 else 0)
    info = bytearray(blob)
    info[8:12] = (dib_h // 2).to_bytes(4, "little", signed=True)
    pixel_off = 14 + hdr_size + n_colors * 4
    synth = (
        b"BM"
        + (14 + len(info)).to_bytes(4, "little")
        + b"\x00" * 4
        + pixel_off.to_bytes(4, "little")
        + bytes(info)
    )
    return decode_image(synth)


def _png_unfilter(raw: bytes, offset: int, stride: int, height: int, bpp: int):
    """Unfilter ``height`` PNG scanlines of ``stride`` bytes each starting
    at ``offset`` in the inflated stream. PNG filters operate on BYTES at
    pixel distance ``bpp`` (RFC 2083 §6) — so this is shared verbatim by
    every depth: 16-bit rows filter with bpp = channels*2, sub-byte rows
    with bpp = 1. Returns ((height, stride) uint8, next offset).

    none/up/sub are fully vectorized (sub is a mod-256 prefix sum per
    byte lane); only average/paeth have a genuine serial pixel
    dependency, and those loop per PIXEL with vector ops across lanes —
    not per byte (a 2000x2000 photo would otherwise cost ~12M
    interpreter iterations, reviewer finding)."""
    import numpy as np

    need = height * (stride + 1)
    if len(raw) < offset + need:
        raise ValueError("malformed PNG: truncated IDAT")
    lanes = stride // bpp  # exact: stride is a whole number of pixels
    out = np.zeros((height, stride), dtype=np.uint8)
    zeros_px = np.zeros(bpp, np.int32)
    for y in range(height):
        base = offset + y * (stride + 1)
        f = raw[base]
        line = (
            np.frombuffer(raw, dtype=np.uint8, count=stride, offset=base + 1)
            .astype(np.int32)
            .reshape(lanes, bpp)
        )
        prev = (
            out[y - 1].astype(np.int32).reshape(lanes, bpp)
            if y
            else np.zeros((lanes, bpp), np.int32)
        )
        if f == 0:
            cur = line
        elif f == 1:  # sub: recon[x] = sum(line[0..x]) mod 256 per lane
            cur = np.cumsum(line, axis=0) & 0xFF
        elif f == 2:  # up
            cur = (line + prev) & 0xFF
        elif f in (3, 4):
            cur = np.zeros((lanes, bpp), np.int32)
            for x in range(lanes):
                a = cur[x - 1] if x else zeros_px
                b = prev[x]
                if f == 3:  # average
                    v = line[x] + ((a + b) >> 1)
                else:  # paeth
                    c = prev[x - 1] if x else zeros_px
                    pp = a + b - c
                    pa, pb, pc = np.abs(pp - a), np.abs(pp - b), np.abs(pp - c)
                    pred = np.where(
                        (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c)
                    )
                    v = line[x] + pred
                cur[x] = v & 0xFF
        else:
            raise ValueError(f"bad PNG filter {f}")
        out[y] = cur.reshape(stride).astype(np.uint8)
    return out, offset + need


def _png_samples(rows, w: int, channels: int, depth: int):
    """(h, stride) reconstructed bytes → (h, w, channels) int32 samples
    at native depth: 8-bit passthrough, 16-bit big-endian pairs, 1/2/4
    MSB-first packed fields (RFC 2083 §7.2)."""
    import numpy as np

    h = rows.shape[0]
    spp = w * channels
    if depth == 8:
        return rows[:, :spp].astype(np.int32).reshape(h, w, channels)
    if depth == 16:
        b = rows.reshape(h, -1, 2).astype(np.int32)
        return ((b[:, :spp, 0] << 8) | b[:, :spp, 1]).reshape(h, w, channels)
    bits = np.unpackbits(rows, axis=1)
    nf = rows.shape[1] * 8 // depth
    fields = bits[:, : nf * depth].reshape(h, nf, depth).astype(np.int32)
    weights = 1 << np.arange(depth - 1, -1, -1)
    vals = (fields * weights).sum(axis=2)[:, :spp]
    return vals.reshape(h, w, channels)


# Adam7 pass origins/strides (x0, y0, dx, dy), RFC 2083 §8.2 — the union
# of the 7 lattices tiles the full grid exactly once
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _png_raster(
    data: bytes, w: int, h: int, depth: int, channels: int, interlace: int
):
    """Inflate + unfilter + sample ONE compressed PNG raster — a still
    image's joined IDAT stream or an APNG frame's joined fdAT stream
    (identical wire format per the APNG spec, each frame its own zlib
    stream). Bounded inflate: the raw scanline size is fully determined
    by the (caller-capped) dimensions, so a max-ratio stream cannot
    balloon past it (same posture as TIFF's capped decompressobj).
    Returns (h, w, channels) int32 samples at native depth."""
    import zlib

    import numpy as np

    bpp = max(1, (channels * depth) // 8)  # filter byte distance

    def stride_for(pw: int) -> int:
        return (pw * channels * depth + 7) // 8

    want = 0
    if interlace == 0:
        want = h * (1 + stride_for(w))
    else:
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw and ph:
                want += ph * (1 + stride_for(pw))
    d = zlib.decompressobj()
    # want+1: with max_length=want exactly, zlib stops at the output cap
    # BEFORE consuming the stream-end marker + adler trailer, so a legit
    # stream would look truncated; one spare byte lets it finish, and a
    # bomb is then detected by producing that extra byte
    raw = d.decompress(data, want + 1)
    if len(raw) > want or d.unconsumed_tail:
        raise ValueError("PNG raster inflates past the header's raw size")

    if interlace == 0:
        rows, _ = _png_unfilter(raw, 0, stride_for(w), h, bpp)
        return _png_samples(rows, w, channels, depth)
    img = np.zeros((h, w, channels), dtype=np.int32)
    off = 0
    for x0, y0, dx, dy in _ADAM7:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue  # empty pass at small dims (no scanlines at all)
        rows, off = _png_unfilter(raw, off, stride_for(pw), ph, bpp)
        img[y0::dy, x0::dx] = _png_samples(rows, pw, channels, depth)
    return img


def _png_chunk_iter(payload: bytes):
    """Yield (type, data) per PNG chunk, stopping at IEND. A truncated
    trailing chunk yields its partial data and ends the walk — lenient,
    since the decoder only needs IHDR + IDAT."""
    pos, n = 8, len(payload)
    while pos + 8 <= n:
        ln = int.from_bytes(payload[pos : pos + 4], "big")
        typ = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        yield typ, data
        if typ == b"IEND" or len(data) < ln:
            return
        pos += 12 + ln  # len + type + data + crc


def _decode_png(payload: bytes):
    """REAL PNG decode, stdlib-only (zlib inflate + numpy unfiltering):
    bit depths 1/2/4/8/16, color types 0 (gray), 2 (RGB), 3 (palette,
    PLTE lookup), 4 (gray+alpha), 6 (RGBA), non-interlaced AND Adam7
    interlaced (7 independently-filtered reduced images scattered onto
    the pixel grid — round 5; previously a declared seam). All five
    scanline filters; alpha/tRNS ignored for the grayscale feature;
    16-bit samples scale by 255/65535 so the gray contract stays
    [0, 255]. Malformed files raise ValueError (per-row err isolation
    upstream, S9)."""
    import numpy as np

    ihdr, idat, plte = None, [], None
    for typ, data in _png_chunk_iter(payload):
        if typ == b"IHDR":
            ihdr = data
        elif typ == b"PLTE":
            plte = data
        elif typ == b"IDAT":
            idat.append(data)
    if ihdr is None or not idat:
        raise ValueError("malformed PNG: missing IHDR/IDAT")
    w = int.from_bytes(ihdr[0:4], "big")
    h = int.from_bytes(ihdr[4:8], "big")
    # bomb cap BEFORE the inflate and the canvas allocation (same
    # 268 Mpx posture as BMP/TIFF/TGA/GIF): IHDR dims are 32-bit fields
    if w <= 0 or h <= 0 or w * h > 1 << 28:
        raise ValueError(f"PNG dimensions {w}x{h} exceed the decoder cap")
    depth, ctype, _comp, _filt, interlace = ihdr[8:13]
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
    legal_depths = {0: (1, 2, 4, 8, 16), 3: (1, 2, 4, 8)}.get(ctype, (8, 16))
    if channels is None or depth not in legal_depths or interlace > 1:
        raise NotImplementedError(
            f"PNG depth={depth} colortype={ctype} interlace={interlace}"
        )
    if ctype == 3 and (plte is None or len(plte) % 3):
        raise ValueError("malformed PNG: palette image missing/bad PLTE")
    img = _png_raster(b"".join(idat), w, h, depth, channels, interlace)
    if ctype == 3:
        pal = np.frombuffer(plte, np.uint8).reshape(-1, 3).astype(np.float64)
        idx = img[:, :, 0]
        if int(idx.max()) >= pal.shape[0]:
            raise ValueError("malformed PNG: palette index out of range")
        rgb = pal[idx]
        return w, h, 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
    px = img.astype(np.float64) * (255.0 / ((1 << depth) - 1))
    if ctype in (0, 4):
        gray = px[:, :, 0]  # alpha ignored
    else:  # 2 or 6: RGB(+A)
        gray = 0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]
    return w, h, gray


def _gif_lzw_decode(data: bytes, min_code_size: int, n_px: int) -> bytearray:
    """The GIF variant of LZW (GIF89a spec appendix F): variable code
    width starting at ``min_code_size + 1``, LSB-first bit packing,
    CLEAR re-initializes the table, EOI terminates, width grows when the
    table fills 2**width (capped at 12 — a full table keeps decoding
    with deferred clear, per the spec's 'deferred clear code' note).
    Returns palette indices, exactly ``n_px`` of them or fewer if EOI
    arrives early (caller validates)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    base: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    width = min_code_size + 1
    out = bytearray()
    prev: bytes | None = None
    acc = nbits = di = 0
    while len(out) < n_px:
        while nbits < width:
            if di >= len(data):
                raise ValueError("truncated GIF LZW stream")
            acc |= data[di] << nbits
            di += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = list(base)
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if code < len(table) and code not in (clear, eoi):
            entry = table[code]
            if prev is not None and len(table) < 4096:
                table.append(prev + entry[:1])
        elif code == len(table) and prev is not None and len(table) < 4096:
            # the KwKwK case: the code being defined by this very step
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"bad GIF LZW code {code} (table={len(table)})")
        out += entry
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    return out


def _decode_gif(payload: bytes):
    """REAL GIF decode, stdlib+numpy only: GIF87a/89a, global AND local
    color tables, full variable-width LZW (dictionary growth, CLEAR/EOI,
    the KwKwK self-referential code, deferred clear at a full table),
    and the 4-pass interlace row shuffle. Decodes the FIRST image frame
    (later frames of an animated 89a are composition deltas, not part of
    the still-image feature) and ignores transparency — the grayscale
    thumbnail wants the stored palette color either way. Round-trip
    tested against the repo's own from-scratch LZW encoder
    (tests/test_training_ops.py)."""
    import numpy as np

    try:
        return _decode_gif_inner(payload, np)
    except IndexError:
        # running off the end of the byte string anywhere in the parse
        # is a truncated file, and the per-row contract (S9) is ValueError
        raise ValueError("truncated GIF") from None


def _gif_read_frame(payload: bytes, pos: int, gct, np):
    """Parse ONE GIF image block (``payload[pos]`` must be the 0x2C
    introducer): image descriptor, optional local color table, LZW
    sub-blocks, de-interlace, palette bounds check. Returns
    ``(left, top, w, h, ct, rows, next_pos)`` with ``rows`` the (h, w)
    uint8 palette-index array in display order and ``next_pos`` just past
    the block terminator."""
    left = int.from_bytes(payload[pos + 1 : pos + 3], "little")
    top = int.from_bytes(payload[pos + 3 : pos + 5], "little")
    w = int.from_bytes(payload[pos + 5 : pos + 7], "little")
    h = int.from_bytes(payload[pos + 7 : pos + 9], "little")
    # bomb cap BEFORE any allocation (same 268 Mpx posture as BMP/TIFF/
    # TGA): dims are 16-bit so 4.29 Gpx is expressible, and the LZW
    # output buffer + index plane + float64 RGB expansion multiply it
    if w <= 0 or h <= 0 or w * h > 1 << 28:
        raise ValueError(f"GIF dimensions {w}x{h} exceed the decoder cap")
    ipacked = payload[pos + 9]
    pos += 10
    ct = gct
    if ipacked & 0x80:
        n = 2 << (ipacked & 0x07)
        ct = np.frombuffer(payload, np.uint8, 3 * n, pos).reshape(n, 3)
        pos += 3 * n
    if ct is None:
        raise ValueError("GIF image with neither global nor local color table")
    min_code_size = payload[pos]
    pos += 1
    chunks = []
    while payload[pos] != 0:
        ln = payload[pos]
        chunks.append(payload[pos + 1 : pos + 1 + ln])
        pos += 1 + ln
    pos += 1  # block terminator
    idx = _gif_lzw_decode(b"".join(chunks), min_code_size, w * h)
    if len(idx) < w * h:
        raise ValueError("GIF LZW stream ended before the frame filled")
    rows = np.frombuffer(bytes(idx[: w * h]), np.uint8).reshape(h, w)
    if ipacked & 0x40:
        # interlaced: rows arrive in pass order (every 8th from 0, every
        # 8th from 4, every 4th from 2, every 2nd from 1); scatter them
        # back to their display positions
        order = (
            list(range(0, h, 8))
            + list(range(4, h, 8))
            + list(range(2, h, 4))
            + list(range(1, h, 2))
        )
        img = np.zeros_like(rows)
        img[order] = rows
        rows = img
    if int(rows.max(initial=0)) >= len(ct):
        raise ValueError("GIF pixel index outside color table")
    return left, top, w, h, ct, rows, pos


def _decode_gif_inner(payload: bytes, np):
    packed = payload[10]  # logical-screen descriptor; frame dims win below
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(payload, np.uint8, 3 * n, pos).reshape(n, 3)
        pos += 3 * n
    while pos < len(payload):
        b = payload[pos]
        if b == 0x3B:  # trailer before any image descriptor
            raise ValueError("GIF contains no image data")
        if b == 0x21:  # extension: introducer, label, then sub-blocks
            pos += 2
            while payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if b != 0x2C:
            raise ValueError(f"bad GIF block introducer 0x{b:02x}")
        _left, _top, w, h, ct, img, pos = _gif_read_frame(payload, pos, gct, np)
        rgb = ct[img].astype(np.float64)
        gray = 0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]
        return w, h, gray
    raise ValueError("truncated GIF: no trailer, no image")


def resize_gray(gray, out_h: int = 8, out_w: int = 8):
    """Nearest-neighbor resize of an HxW array — a REAL resize in pure
    numpy index arithmetic (the pHash-style thumbnail prep)."""
    import numpy as np

    h, w = gray.shape
    ys = (np.arange(out_h) * h) // out_h
    xs = (np.arange(out_w) * w) // out_w
    return gray[np.ix_(ys, xs)]


def thumbnail_feature(gray, size: int = 8) -> list[float]:
    """Flattened size×size grayscale thumbnail scaled to [0,1] — a real,
    comparable image feature (L2 distance ≈ perceptual coarse diff)."""
    t = resize_gray(gray, size, size) / 255.0
    return [round(float(x), 6) for x in t.ravel()]


def _fake_decode(payload: bytes) -> tuple[int, int, list[float]]:
    """Deterministic stand-in for a real image decode: pseudo-dimensions
    and an 8-dim feature vector derived from the payload sha."""
    h = hashlib.sha256(payload).digest()
    width = 64 + h[0] % 192
    height = 64 + h[1] % 192
    feature = [round(b / 255.0, 6) for b in h[2:10]]
    return width, height, feature


def extract_image_features(
    media: DataFrame, decode_stub: bool = True, batch_hint: int | None = None
) -> DataFrame:
    """Decode + featurize image payloads via Arrow-batched mapInPandas.

    Real deployment: replace the ``decode_stub`` branch with
    PIL.Image.open(BytesIO(payload)) / a vision encoder. The surrounding
    plumbing (schema, batching, null handling) is production-shaped.
    """

    def decode_row(p):
        if p is None:
            return (None, None, None, None)
        if decode_stub:
            w, h, feat = _fake_decode(p)
            return (w, h, feat, None)
        try:
            w, h, gray = decode_image(p)
            return (w, h, thumbnail_feature(gray), None)
        except Exception as e:  # noqa: BLE001
            # per-row isolation (S9): unsupported codec OR corrupt payload
            # (truncated pixel data / garbage header raise ValueError from
            # numpy/int — reviewer finding); the batch always survives and
            # the row records why it failed
            return (None, None, None, f"{type(e).__name__}: {e}")

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = pdf["payload"].map(decode_row)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": pdf["payload"].map(
                        lambda p: len(p) if p is not None else None
                    ),
                    "sha256": pdf["payload"].map(
                        lambda p: hashlib.sha256(p).hexdigest() if p is not None else None
                    ),
                    "width": decoded.map(lambda d: d[0]),
                    "height": decoded.map(lambda d: d[1]),
                    "feature": decoded.map(lambda d: d[2]),
                    "err": decoded.map(lambda d: d[3]),
                }
            )

    imgs = media.filter(F.col("kind") == "image").select("media_id", "payload")
    return imgs.mapInPandas(process, schema=IMAGE_FEATURES_SCHEMA)


def media_metadata(media: DataFrame) -> DataFrame:
    """Blob metadata without any decode — pure JVM column ops (byte length,
    magic-prefix hex, content hash). This is the cheap first pass that runs
    at scan speed over 100 TB; only rows passing filters reach the decoder."""
    return media.select(
        "media_id",
        "kind",
        "mime",
        F.octet_length("payload").alias("n_bytes"),
        F.hex(F.substring("payload", 1, 4)).alias("magic_hex"),
        F.sha2("payload", 256).alias("sha256"),
    )


