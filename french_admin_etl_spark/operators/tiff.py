"""From-scratch baseline TIFF 6.0 decode (stdlib + numpy only).

Covers the baseline-TIFF surface a scraped-corpus pipeline actually
meets: both byte orders (``II``/``MM``), strip- AND tile-organised
images (tags 273/279 or 322-325), compression 1 (none), 5 (LZW),
8/32946 (Deflate — both the registered and the original tag value) and
32773 (PackBits), photometric 0/1 (grayscale, min-is-white /
min-is-black), 2 (RGB, extra samples ignored) and 3 (palette, 16-bit
ColorMap), bits-per-sample 1/4/8/16, predictor 2 (horizontal
differencing, 8- and 16-bit samples; restarts per tile since tiles
compress independently), and both planar configurations (chunky and
§14 plane-major separate-strip planes). Planar-2 WITH tiles, JPEG
compression (6, the spec-retracted old style, and 7, the new style of
TIFF Technical Note 2) and photometric 6 (YCbCr) raise
``NotImplementedError`` — codec seams, dead-lettered per row under the
engine's S9 contract like every other unsupported codec.

The LZW variant here is the TIFF one, which differs from GIF's in all
three conventions: codes pack MSB-first (GIF: LSB-first), the alphabet
is fixed at 8-bit (Clear=256, EOI=257, first table entry 258), and the
code width bumps one code EARLIER than GIF ("early change", TIFF 6.0
spec p.61: the decoder switches to 10 bits as soon as it ADDS table
entry 510, i.e. when the table length reaches 2**width - 1, not
2**width). Both the bump rule and the MSB packing are pinned by
hand-assembled bitstream tests in ``tests/test_tiff.py`` independently
of the mirror encoder — round-trips alone cannot catch a convention
error that both sides share.

Reference parity note: the reference engine has no media path at all —
this module belongs to the training-data extension surface
(multimodal feature extraction over opaque binary columns), reached
via ``operators/multimodal.py::decode_image`` inside Arrow
``mapInPandas`` batches, never per-row Python in a driver loop.
"""

from __future__ import annotations

__all__ = ["decode_tiff", "unpack_msb_fields"]


def unpack_msb_fields(mat, bits: int, n: int):
    """Unpack ``n`` MSB-first ``bits``-wide fields per row from a
    ``(rows, stride)`` uint8 matrix → ``(rows, n)`` int64. Shared by the
    sub-byte TIFF path here and the 1/4-bit palette BMP branch in
    ``operators/multimodal.py`` (one algorithm, one place to fix)."""
    import numpy as np

    bits_arr = np.unpackbits(mat, axis=1)
    nf = mat.shape[1] * 8 // bits
    fields = bits_arr[:, : nf * bits].reshape(mat.shape[0], nf, bits).astype(np.int64)
    weights = 1 << np.arange(bits - 1, -1, -1)
    return (fields * weights).sum(axis=2)[:, :n]

# TIFF field types → byte size (only the ones baseline tags use)
_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8}


def _read_ifd(payload: bytes, bo: str):
    """Parse the first IFD into {tag: [values...]} (ints only)."""
    if len(payload) < 8:
        raise ValueError("truncated TIFF header")
    off = int.from_bytes(payload[4:8], bo)
    if off < 8 or off + 2 > len(payload):
        raise ValueError("bad TIFF IFD offset")
    n = int.from_bytes(payload[off : off + 2], bo)
    tags: dict[int, list[int]] = {}
    for k in range(n):
        e = off + 2 + 12 * k
        if e + 12 > len(payload):
            raise ValueError("truncated TIFF IFD")
        tag = int.from_bytes(payload[e : e + 2], bo)
        typ = int.from_bytes(payload[e + 2 : e + 4], bo)
        cnt = int.from_bytes(payload[e + 4 : e + 8], bo)
        size = _TYPE_SIZE.get(typ)
        if size is None or cnt == 0 or cnt > len(payload):
            # unknown type or empty value: skip the tag (per spec readers
            # must skip unknowns; a count-0 entry would otherwise surface
            # as IndexError instead of the module's ValueError taxonomy)
            continue
        total = size * cnt
        if total <= 4:
            base = e + 8  # value fits inline, left-justified in the field
        else:
            base = int.from_bytes(payload[e + 8 : e + 12], bo)
            if base + total > len(payload):
                raise ValueError(f"TIFF tag {tag} value out of bounds")
        if typ == 5:  # RATIONAL → numerator/denominator as a float-ish int
            vals = [
                int.from_bytes(payload[base + 8 * i : base + 8 * i + 4], bo)
                for i in range(cnt)
            ]
        else:
            vals = [
                int.from_bytes(payload[base + size * i : base + size * (i + 1)], bo)
                for i in range(cnt)
            ]
        tags[tag] = vals
    return tags


def _lzw_decode(data: bytes, max_out: int) -> bytes:
    """TIFF-variant LZW (TIFF 6.0 §13): MSB-first bit packing, 8-bit
    alphabet, Clear=256, EOI=257, first dictionary entry 258, width
    9→12 with the EARLY bump (width grows as soon as the table length
    reaches ``2**width - 1`` — one code earlier than GIF). Decodes at
    most ``max_out`` bytes (the strip's decompressed size bounds the
    output; a run straddling the bound is truncated, matching libtiff's
    strip-size clamp)."""
    literals = [bytes([i]) for i in range(256)] + [b"", b""]
    table = list(literals)
    width = 9
    out = bytearray()
    prev: bytes | None = None
    acc = nbits = di = 0
    while len(out) < max_out:
        while nbits < width:
            if di >= len(data):
                raise ValueError("truncated TIFF LZW stream")
            acc = (acc << 8) | data[di]
            di += 1
            nbits += 8
        code = (acc >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        acc &= (1 << nbits) - 1  # keep the accumulator a machine word —
        # an unmasked acc grows into an ever-larger bigint and decode
        # time goes QUADRATIC in strip size (50 s for a 548 KB strip)
        if code == 256:  # ClearCode
            table = list(literals)
            width = 9
            prev = None
            continue
        if code == 257:  # EndOfInformation
            break
        if code < len(table) and code not in (256, 257):
            entry = table[code]
            if prev is not None and len(table) < 4096:
                table.append(prev + entry[:1])
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
            if len(table) < 4096:
                table.append(entry)
        else:
            raise ValueError(f"bad TIFF LZW code {code} (table={len(table)})")
        out += entry
        prev = entry
        # EARLY change: entry 510 added (len 511) → next code reads 10 bits
        if len(table) >= (1 << width) - 1 and width < 12:
            width += 1
    return bytes(out[:max_out])


def _packbits_decode(data: bytes, max_out: int) -> bytes:
    """PackBits (TIFF 6.0 §9): n in 0..127 → copy n+1 literals; n in
    129..255 (two's-complement -127..-1) → repeat next byte 1-n times;
    128 is a no-op."""
    out = bytearray()
    i = 0
    while len(out) < max_out:
        if i >= len(data):
            raise ValueError("truncated PackBits stream")
        n = data[i]
        i += 1
        if n < 128:
            if i + n + 1 > len(data):
                raise ValueError("truncated PackBits literal run")
            out += data[i : i + n + 1]
            i += n + 1
        elif n > 128:
            if i >= len(data):
                raise ValueError("truncated PackBits repeat run")
            out += bytes([data[i]]) * (257 - n)
            i += 1
        # n == 128: no-op
    return bytes(out[:max_out])


def _decompress(chunk: bytes, want: int, compression: int) -> bytes:
    if compression == 1:
        if len(chunk) < want:
            raise ValueError("truncated uncompressed TIFF block")
        return chunk[:want]
    if compression == 5:
        return _lzw_decode(chunk, want)
    if compression in (8, 32946):
        # Deflate (8 = the Adobe/TechNote tag, 32946 = the original
        # pre-registration value; both are the same zlib stream). The
        # bounded decompressobj caps the output at the block's expected
        # size, so a crafted high-ratio stream cannot balloon past the
        # strip/tile budget (same bomb posture as the LZW max_out cap).
        import zlib

        try:
            return zlib.decompressobj().decompress(chunk, want)
        except zlib.error as exc:
            raise ValueError(f"bad TIFF deflate block: {exc}") from exc
    if compression == 32773:
        return _packbits_decode(chunk, want)
    raise NotImplementedError(f"TIFF compression {compression}")


def _unpack_samples(raw: bytes, rows: int, wpx: int, spp: int, bits: int, np_u2):
    """Byte-aligned rows of packed samples → (rows, wpx, spp) int64."""
    import numpy as np

    stride = (wpx * spp * bits + 7) // 8
    if bits == 16:
        return np.frombuffer(raw, dtype=np_u2).reshape(rows, wpx, spp).astype(np.int64)
    if bits == 8:
        return (
            np.frombuffer(raw, dtype=np.uint8).reshape(rows, wpx, spp).astype(np.int64)
        )
    # 1/4-bit gray/palette: MSB-first packed fields, rows byte-aligned
    mat = np.frombuffer(raw, np.uint8).reshape(rows, stride)
    return unpack_msb_fields(mat, bits, wpx).reshape(rows, wpx, 1)


def decode_tiff(payload: bytes):
    """Decode a baseline strip- or tile-organised TIFF →
    ``(width, height, gray)`` with ``gray`` float64 HxW in [0, 255] —
    the same contract as every other branch of ``decode_image``."""
    import numpy as np

    if payload[:4] == b"II*\x00":
        bo, np_u2 = "little", "<u2"
    elif payload[:4] == b"MM\x00*":
        bo, np_u2 = "big", ">u2"
    else:
        raise ValueError(f"not a TIFF payload (magic {payload[:4]!r})")
    tags = _read_ifd(payload, bo)
    tiled = 324 in tags or 325 in tags
    planar = tags.get(284, [1])[0]
    if planar not in (1, 2) or (planar == 2 and tiled):
        raise NotImplementedError(
            f"TIFF planar configuration {planar}{' with tiles' if tiled else ''}"
            " not supported"
        )
    try:
        w = tags[256][0]
        h = tags[257][0]
        if tiled:
            tw = tags[322][0]
            tl = tags[323][0]
            offsets = tags[324]
            counts = tags[325]
        else:
            offsets = tags[273]
            counts = tags[279]
    except KeyError as exc:
        raise ValueError(f"TIFF missing required tag {exc}") from exc
    if w <= 0 or h <= 0:
        raise ValueError(f"bad TIFF dimensions {w}x{h}")
    if w * h > 1 << 28:
        # decompression-bomb guard: header dims are attacker-controlled
        # and size both the LZW output budget and the tile canvas — a
        # 100 KB file claiming 2^32 rows must not allocate first and
        # error later. 268 Mpx ≈ a 16k×16k scan, far past crawl media.
        raise ValueError(f"TIFF dimensions {w}x{h} exceed the decoder cap")
    spp = tags.get(277, [1])[0]
    if not 1 <= spp <= 8:
        raise ValueError(f"bad TIFF samples-per-pixel {spp}")
    bits_list = tags.get(258, [1])
    if len(set(bits_list)) != 1:
        raise NotImplementedError(f"mixed TIFF bit depths {bits_list}")
    bits = bits_list[0]
    compression = tags.get(259, [1])[0]
    photometric = tags.get(262, [1])[0]
    predictor = tags.get(317, [1])[0]
    rows_per_strip = tags.get(278, [2**32 - 1])[0] or 2**32 - 1
    if bits not in (1, 4, 8, 16):
        raise NotImplementedError(f"TIFF bits-per-sample {bits}")
    if bits < 8 and spp != 1:
        raise NotImplementedError("sub-byte TIFF only supported for 1 sample/px")
    if photometric not in (0, 1, 2, 3):
        raise NotImplementedError(f"TIFF photometric {photometric}")
    if photometric == 2 and spp < 3:
        raise ValueError("TIFF RGB needs >= 3 samples per pixel")
    if photometric == 3 and (spp != 1 or 320 not in tags):
        raise ValueError("palette TIFF needs 1 sample/px and a ColorMap")
    if predictor == 2 and bits < 8:
        raise NotImplementedError("TIFF predictor 2 on sub-byte samples")
    if predictor not in (1, 2):
        raise NotImplementedError(f"TIFF predictor {predictor}")
    if len(offsets) != len(counts):
        raise ValueError("TIFF offsets/byte-counts length mismatch")

    mask = (1 << bits) - 1
    if tiled:
        # tiles are independently compressed tw×tl blocks in row-major
        # grid order, full-size even at the right/bottom edges (spec §15)
        if tw <= 0 or tl <= 0:
            raise ValueError(f"bad TIFF tile size {tw}x{tl}")
        across = (w + tw - 1) // tw
        down = (h + tl - 1) // tl
        if len(offsets) < across * down:
            raise ValueError(
                f"TIFF has {len(offsets)} tiles, needs {across * down}"
            )
        t_stride = (tw * spp * bits + 7) // 8
        samples = np.zeros((h, w, spp), np.int64)
        for ty in range(down):
            for tx in range(across):
                so = offsets[ty * across + tx]
                sc = counts[ty * across + tx]
                if so + sc > len(payload):
                    raise ValueError("TIFF tile out of bounds")
                raw = _decompress(payload[so : so + sc], t_stride * tl, compression)
                if len(raw) != t_stride * tl:
                    raise ValueError("short TIFF tile after decompression")
                tile = _unpack_samples(raw, tl, tw, spp, bits, np_u2)
                if predictor == 2:
                    # differencing restarts at each tile row (tiles
                    # compress independently) → cumsum inside the tile
                    tile = np.cumsum(tile, axis=1) & mask
                ch = min(tl, h - ty * tl)
                cw = min(tw, w - tx * tw)
                samples[ty * tl : ty * tl + ch, tx * tw : tx * tw + cw] = tile[
                    :ch, :cw
                ]
    else:

        def assemble(strip_list, stride):
            """Concatenate one plane's (or the chunky image's) strips."""
            raw = bytearray()
            rows_done = 0
            for so, sc in strip_list:
                if so + sc > len(payload):
                    raise ValueError("TIFF strip out of bounds")
                n_rows = min(rows_per_strip, h - rows_done)
                if n_rows <= 0:
                    break
                want = stride * n_rows
                raw += _decompress(payload[so : so + sc], want, compression)
                if len(raw) != stride * (rows_done + n_rows):
                    raise ValueError("short TIFF strip after decompression")
                rows_done += n_rows
            if rows_done < h:
                raise ValueError(f"TIFF strips cover {rows_done} of {h} rows")
            return bytes(raw)

        if planar == 2:
            # §14: each component's strips form a separate plane, listed
            # plane-major (all of component 0's strips, then 1's, ...)
            if bits < 8:
                raise NotImplementedError("sub-byte planar-2 TIFF")
            spi = (h + rows_per_strip - 1) // rows_per_strip
            if len(offsets) < spi * spp:
                raise ValueError(
                    f"planar TIFF has {len(offsets)} strips, needs {spi * spp}"
                )
            stride = (w * bits + 7) // 8
            planes = [
                _unpack_samples(
                    assemble(
                        list(
                            zip(
                                offsets[c * spi : (c + 1) * spi],
                                counts[c * spi : (c + 1) * spi],
                            )
                        ),
                        stride,
                    ),
                    h, w, 1, bits, np_u2,
                )
                for c in range(spp)
            ]
            samples = np.concatenate(planes, axis=2)
        else:
            stride = (w * spp * bits + 7) // 8  # rows are byte-aligned
            samples = _unpack_samples(
                assemble(list(zip(offsets, counts)), stride), h, w, spp, bits, np_u2
            )
        if predictor == 2:
            # horizontal differencing: each sample is the delta to the
            # previous pixel's same channel → undo with a cumsum mod 2^bits
            # (per-channel, so the same cumsum serves chunky AND planar)
            samples = np.cumsum(samples, axis=1) & mask

    full = float((1 << bits) - 1)
    if photometric in (0, 1):
        gray = samples[:, :, 0].astype(np.float64) * (255.0 / full)
        if photometric == 0:  # min-is-white
            gray = 255.0 - gray
    elif photometric == 2:
        rgb = samples[:, :, :3].astype(np.float64) * (255.0 / full)
        gray = 0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]
    else:  # palette: ColorMap is 3 planes of 2^bits 16-bit values (R,G,B)
        cm = tags[320]
        n = 1 << bits
        if len(cm) < 3 * n:
            raise ValueError("TIFF ColorMap too short")
        cmap = np.asarray(cm[: 3 * n], dtype=np.float64).reshape(3, n)
        idx = samples[:, :, 0]
        if int(idx.max()) >= n:
            raise ValueError("TIFF palette index out of range")
        rgb = cmap[:, idx] * (255.0 / 65535.0)  # (3, h, w)
        gray = 0.299 * rgb[0] + 0.587 * rgb[1] + 0.114 * rgb[2]
    return w, h, gray
