"""Baseline-TIFF decoder tests (operators/tiff.py).

Two independent anchors, per the repo's codec-test doctrine:

1. Round-trips against the from-scratch TIFF writer below (both byte
   orders, none/LZW/PackBits, gray/RGB/palette, 1/4/8/16 bit,
   predictor 2, multi-strip, LZW table reset at 4094).
2. HAND-ASSEMBLED LZW bitstreams that pin the TIFF conventions
   independently of the mirror encoder — MSB-first packing, the EARLY
   width change (bump when the table length reaches 2**width - 1), and
   the KwKwK case. A mirror round-trip alone cannot catch a convention
   error both sides share (the lossless-JPEG lesson, NOTES.md).
"""

import numpy as np
import pytest

from french_admin_etl_spark.operators.multimodal import decode_image
from french_admin_etl_spark.operators.tiff import (
    _lzw_decode,
    _packbits_decode,
    decode_tiff,
)

# ---------------------------------------------------------------- writer


def _lzw_encode(data: bytes) -> bytes:
    """Mirror TIFF-LZW encoder: MSB-first, Clear=256/EOI=257, early
    width change (the encoder leads the decoder's table by exactly one
    insert, so it bumps at the same ``2**width - 1`` threshold on its
    own pre-insert counter), table reset at 4094 per spec §13."""
    out = bytearray()
    acc = nbits = 0
    width = 9
    table = {bytes([i]): i for i in range(256)}
    next_code = 258

    def emit(code):
        nonlocal acc, nbits, width
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8
        acc &= (1 << nbits) - 1
        if next_code >= (1 << width) - 1 and width < 12:
            width += 1

    emit(256)
    wseq = b""
    for b in data:
        wc = wseq + bytes([b])
        if wc in table:
            wseq = wc
            continue
        emit(table[wseq])
        if next_code < 4094:
            table[wc] = next_code
            next_code += 1
        else:  # spec: emit ClearCode when the table reaches 4094
            emit(256)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        wseq = bytes([b])
    if wseq:
        emit(table[wseq])
    emit(257)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data):
        run = 1
        while i + run < len(data) and data[i + run] == data[i] and run < 128:
            run += 1
        if run >= 2:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        j = i + 1  # literal run: until a 2-byte repeat starts or 128 cap
        while (
            j < len(data)
            and j - i < 128
            and not (j + 1 < len(data) and data[j + 1] == data[j])
        ):
            j += 1
        out += bytes([j - i - 1]) + data[i:j]
        i = j
    return bytes(out)


def _pack_row(vals: np.ndarray, bits: int, bo: str) -> bytes:
    """Pack one row of samples (w, spp) to byte-aligned TIFF row bytes."""
    flat = vals.reshape(-1)
    if bits == 8:
        return flat.astype(np.uint8).tobytes()
    if bits == 16:
        return flat.astype("<u2" if bo == "little" else ">u2").tobytes()
    # sub-byte: MSB-first fields
    nbits = len(flat) * bits
    padded = (nbits + 7) // 8 * 8
    bit_arr = np.zeros(padded, np.uint8)
    for k in range(bits):
        bit_arr[k : len(flat) * bits : bits] = (flat >> (bits - 1 - k)) & 1
    return np.packbits(bit_arr).tobytes()


def _diff(block: np.ndarray, bits: int) -> np.ndarray:
    d = block.astype(np.int64).copy()
    d[:, 1:, :] = d[:, 1:, :] - d[:, :-1, :]
    return d & ((1 << bits) - 1)


def _tiff_write(
    samples: np.ndarray,  # (h, w, spp) ints in [0, 2^bits)
    bits: int,
    photometric: int,
    compression: int = 1,
    bo: str = "little",
    predictor: int = 1,
    rows_per_strip: int | None = None,
    colormap: np.ndarray | None = None,  # (3, 2^bits) uint16
    tile: tuple[int, int] | None = None,  # (tw, tl) → tile organisation
    planar: int = 1,
    extra_tags: list | None = None,
) -> bytes:
    h, w, spp = samples.shape

    def compress(raw: bytes) -> bytes:
        if compression == 5:
            return _lzw_encode(raw)
        if compression in (8, 32946):
            import zlib

            return zlib.compress(raw)
        if compression == 32773:
            return _packbits_encode(raw)
        return raw

    blocks = []
    if planar == 2:
        # plane-major strip list: all of component 0's strips, then 1's…
        rps = rows_per_strip or h
        if predictor == 2:
            samples = _diff(samples, bits)
        for c in range(spp):
            for y0 in range(0, h, rps):
                rows = samples[y0 : y0 + rps, :, c : c + 1]
                blocks.append(
                    compress(b"".join(_pack_row(r, bits, bo) for r in rows))
                )
    elif tile:
        tw, tl = tile
        for y0 in range(0, h, tl):
            for x0 in range(0, w, tw):
                # edge tiles pad to full tw×tl (spec §15)
                blk = np.zeros((tl, tw, spp), np.int64)
                part = samples[y0 : y0 + tl, x0 : x0 + tw]
                blk[: part.shape[0], : part.shape[1]] = part
                if predictor == 2:  # differencing restarts per tile
                    blk = _diff(blk, bits)
                blocks.append(
                    compress(b"".join(_pack_row(r, bits, bo) for r in blk))
                )
    else:
        rps = rows_per_strip or h
        if predictor == 2:
            samples = _diff(samples, bits)
        for y0 in range(0, h, rps):
            rows = samples[y0 : y0 + rps]
            blocks.append(
                compress(b"".join(_pack_row(r, bits, bo) for r in rows))
            )

    entries = [  # (tag, type, values)
        (256, 3, [w]),
        (257, 3, [h]),
        (258, 3, [bits] * spp),
        (259, 3, [compression]),
        (262, 3, [photometric]),
        (277, 3, [spp]),
    ]
    if tile:
        entries += [
            (322, 3, [tile[0]]),
            (323, 3, [tile[1]]),
            (324, 4, None),  # patched below
            (325, 4, [len(s) for s in blocks]),
        ]
    else:
        entries += [
            (273, 4, None),  # patched below
            (278, 3, [rows_per_strip or h]),
            (279, 4, [len(s) for s in blocks]),
        ]
    if predictor != 1:
        entries.append((317, 3, [predictor]))
    if planar != 1:
        entries.append((284, 3, [planar]))
    if colormap is not None:
        entries.append((320, 3, list(colormap.reshape(-1))))
    entries += extra_tags or []
    return _tiff_container(blocks, entries, bo)


def _tiff_container(blocks, entries, bo):
    """Serialize data blocks + IFD entries into a TIFF file. Offset tags
    (273/324) passed with values=None are patched to the blocks' actual
    positions."""

    def b2(v):
        return int(v).to_bytes(2, bo)

    def b4(v):
        return int(v).to_bytes(4, bo)

    entries = sorted(entries, key=lambda e: e[0])
    strip_base = 8
    offs, pos = [], strip_base
    for s in blocks:
        offs.append(pos)
        pos += len(s)
    entries = [(t, ty, offs if t in (273, 324) and v is None else v)
               for t, ty, v in entries]

    ifd_off = pos
    size = {3: 2, 4: 4, 7: 1}
    n = len(entries)
    overflow_base = ifd_off + 2 + 12 * n + 4
    ifd = bytearray(b2(n))
    overflow = bytearray()
    for tag, typ, vals in entries:
        total = size[typ] * len(vals)
        ifd += b2(tag) + b2(typ) + b4(len(vals))
        enc = b"".join(int(v).to_bytes(size[typ], bo) for v in vals)
        if total <= 4:
            ifd += enc + b"\x00" * (4 - total)
        else:
            ifd += b4(overflow_base + len(overflow))
            overflow += enc
    ifd += b4(0)  # no next IFD
    magic = b"II*\x00" if bo == "little" else b"MM\x00*"
    return magic + b4(ifd_off) + b"".join(blocks) + bytes(ifd) + bytes(overflow)


def _want_gray(samples, bits, photometric, colormap=None):
    full = float((1 << bits) - 1)
    if photometric in (0, 1):
        g = samples[:, :, 0].astype(np.float64) * (255.0 / full)
        return 255.0 - g if photometric == 0 else g
    if photometric == 2:
        rgb = samples[:, :, :3].astype(np.float64) * (255.0 / full)
        return 0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]
    rgb = colormap.astype(np.float64)[:, samples[:, :, 0]] * (255.0 / 65535.0)
    return 0.299 * rgb[0] + 0.587 * rgb[1] + 0.114 * rgb[2]


# ------------------------------------------------- hand-assembled streams


def _pack_codes(codes_with_width):
    """Pack (code, width) pairs MSB-first — the independent packer the
    hand tests use (deliberately NOT the encoder's emit path)."""
    acc = nbits = 0
    out = bytearray()
    for code, width in codes_with_width:
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8
            acc &= (1 << nbits) - 1
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def test_lzw_msb_first_packing():
    """[Clear, 0, EOI] at 9 bits: Clear=256=0b100000000 must put its MSB
    into the FIRST stream bit → first byte 0x80. (GIF's LSB-first
    convention would emit 0x00 first.)"""
    data = _pack_codes([(256, 9), (0, 9), (257, 9)])
    assert data[0] == 0x80
    assert _lzw_decode(data, 10) == b"\x00"


def test_lzw_kwkwk_hand_stream():
    """[Clear, 0, 258, EOI]: code 258 names the entry being defined by
    that very step (KwKwK) → output 0x00 then 0x00 0x00."""
    data = _pack_codes([(256, 9), (0, 9), (258, 9), (257, 9)])
    assert _lzw_decode(data, 10) == b"\x00" * 3


def test_lzw_early_width_change_hand_stream():
    """Pin the TIFF early change independently of the mirror encoder.

    Stream = Clear + 256 literal ONE codes + EOI. The decoder adds one
    table entry per literal from the 2nd on, so after literal #254 the
    table holds 511 entries — the spec says THAT is when the width
    becomes 10 (table length == 2**9 - 1, one code earlier than GIF).
    Literals #255/#256 and the EOI are therefore packed at 10 bits; a
    decoder using the GIF-natural rule would misread literal #255.
    (Literal 1, not 0: a 9-bit zero code misread at 10 bits is still a
    zero — value 1 makes the misalignment visible as a decoded 2.)"""
    n = 256
    widths = [9] + [9] * 254 + [10] * (n - 254) + [10]  # clear + data + eoi
    codes = [256] + [1] * n + [257]
    early = _pack_codes(list(zip(codes, widths)))
    assert _lzw_decode(early, n + 8) == b"\x01" * n

    # the same codes packed with the GIF-natural schedule (bump one code
    # later) must NOT decode to the same output
    nat_widths = [9] + [9] * 255 + [10] * (n - 255) + [10]
    natural = _pack_codes(list(zip(codes, nat_widths)))
    try:
        got = _lzw_decode(natural, n + 8)
    except ValueError:
        got = None
    assert got != b"\x01" * n


def test_lzw_mirror_agrees_with_hand_schedule():
    """The mirror encoder must produce bit-identical output to the
    hand-packed early-change schedule for a stream that crosses the
    9→10 bump — this welds the round-trip suite to the hand anchor."""
    # input chosen so every step emits a literal and adds one entry:
    # 0,1,0,2,0,3,... (each 2-gram is new)
    pairs = [(0, k) for k in range(1, 141)]
    data = bytes([b for p in pairs for b in p])
    # simulate the spec decoder's add schedule to derive widths
    codes, widths = [(256)], [9]
    width, table_len = 9, 258
    emitted = []
    # encoder emits: 0,1,0,2,0,3,... then the final wseq (last byte)
    for p in pairs:
        emitted += [p[0], p[1]]
    emitted = emitted[:-1] + [pairs[-1][1]]  # final flush emits last char
    for j, c in enumerate(emitted):
        codes.append(c)
        widths.append(width)
        if j > 0:  # decoder adds from the 2nd data code on
            table_len += 1
            if table_len >= (1 << width) - 1 and width < 12:
                width += 1
    codes.append(257)
    widths.append(width)
    hand = _pack_codes(list(zip(codes, widths)))
    assert _lzw_encode(data) == hand
    assert _lzw_decode(hand, len(data)) == data


def test_packbits_hand_vectors():
    # spec's worked example shape: literal, repeat, no-op
    assert _packbits_decode(b"\x02abc", 3) == b"abc"
    assert _packbits_decode(b"\xfeZ", 3) == b"ZZZ"  # -2 → 3 repeats
    assert _packbits_decode(b"\x80\x00A", 1) == b"A"  # 128 = no-op
    with pytest.raises(ValueError):
        _packbits_decode(b"\x05ab", 6)


# ------------------------------------------------------------ round-trips


def test_tiff_roundtrip_matrix():
    rng = np.random.default_rng(17)
    cases = [
        # bits, spp, photometric, compression, bo, predictor, rps
        (8, 1, 1, 1, "little", 1, None),
        (8, 1, 0, 32773, "big", 1, 4),          # min-is-white + PackBits
        (8, 3, 2, 5, "little", 2, 5),           # RGB + LZW + predictor 2
        (8, 1, 1, 5, "big", 2, None),
        (16, 1, 1, 5, "big", 2, 3),             # 16-bit LZW predictor
        (16, 3, 2, 1, "little", 1, None),       # 16-bit RGB raw
        (1, 1, 0, 1, "little", 1, None),        # bilevel, min-is-white
        (1, 1, 1, 32773, "big", 1, 2),
        (4, 1, 3, 5, "little", 1, None),        # 4-bit palette + LZW
        (8, 1, 3, 1, "big", 1, None),           # 8-bit palette
        (8, 4, 2, 5, "little", 2, None),        # RGBA: alpha ignored
    ]
    for bits, spp, photometric, comp, bo, pred, rps in cases:
        h, w = 13, 11
        samples = rng.integers(0, 1 << bits, (h, w, spp), dtype=np.int64)
        cmap = None
        if photometric == 3:
            cmap = rng.integers(0, 65536, (3, 1 << bits), dtype=np.uint16)
        payload = _tiff_write(
            samples, bits, photometric, comp, bo, pred,
            rows_per_strip=rps, colormap=cmap,
        )
        dw, dh, gray = decode_image(payload)
        assert (dw, dh) == (w, h), (bits, spp, photometric, comp, bo)
        want = _want_gray(samples, bits, photometric, cmap)
        assert np.allclose(gray, want), (bits, spp, photometric, comp, bo, pred)


def test_tiff_lzw_table_reset_large():
    """High-entropy 8 KiB strip fills the LZW table past 4094 → the
    encoder emits a mid-stream ClearCode; the decoder must resync."""
    rng = np.random.default_rng(3)
    h, w = 96, 96  # 9216 samples > 4094 adds for random bytes
    samples = rng.integers(0, 256, (h, w, 1), dtype=np.int64)
    payload = _tiff_write(samples, 8, 1, 5, "little")
    dw, dh, gray = decode_image(payload)
    assert (dw, dh) == (w, h)
    assert np.allclose(gray, samples[:, :, 0].astype(np.float64))
    # sanity: the stream really did reset (contains > 4094 - 258 adds)
    assert h * w > 4094 - 258


def test_tiff_low_entropy_long_runs():
    """Constant + banded image: LZW builds long dictionary runs and
    PackBits builds max-length repeats."""
    h, w = 40, 200
    samples = np.zeros((h, w, 1), np.int64)
    samples[h // 2 :] = 200
    for comp in (5, 32773):
        payload = _tiff_write(samples, 8, 1, comp, "little")
        dw, dh, gray = decode_image(payload)
        assert (dw, dh) == (w, h)
        assert np.allclose(gray, samples[:, :, 0])


def test_tiff_error_paths():
    rng = np.random.default_rng(5)
    samples = rng.integers(0, 256, (6, 7, 1), dtype=np.int64)
    good = _tiff_write(samples, 8, 1, 5, "little")

    # shrink StripByteCounts by 10 → the LZW stream truncates mid-code
    tag279 = b"\x17\x01\x04\x00\x01\x00\x00\x00"  # tag 279, LONG, count 1
    at = good.index(tag279)
    sc = int.from_bytes(good[at + 8 : at + 12], "little")
    cut = good[: at + 8] + (sc - 10).to_bytes(4, "little") + good[at + 12 :]
    with pytest.raises(ValueError, match="truncated TIFF LZW"):
        decode_tiff(cut)

    # planar-2 with tiles and unknown planar values are the seams
    planar3 = _tiff_write(samples, 8, 1, 1, "little", extra_tags=[(284, 3, [3])])
    with pytest.raises(NotImplementedError, match="planar"):
        decode_tiff(planar3)
    planar_tiled = _tiff_write(
        samples, 8, 1, 1, "little", tile=(16, 16), extra_tags=[(284, 3, [2])]
    )
    with pytest.raises(NotImplementedError, match="planar"):
        decode_tiff(planar_tiled)

    # JPEG compression (7) and YCbCr without it are codec seams too
    jpeg7 = _tiff_write(samples, 8, 1, 7, "little")
    with pytest.raises(NotImplementedError, match="compression 7"):
        decode_tiff(jpeg7)
    ycbcr = _tiff_write(np.repeat(samples, 3, axis=2), 8, 6, 1, "little")
    with pytest.raises(NotImplementedError, match="photometric 6"):
        decode_tiff(ycbcr)

    with pytest.raises(ValueError):
        decode_tiff(b"II*\x00\x08\x00\x00")  # truncated header
    with pytest.raises(ValueError):
        decode_tiff(good[:-25])  # IFD chopped off (it sits at the tail)

    # strips that cover fewer rows than ImageLength claims: patch the
    # SHORT value of tag 257 from 3 up to 6 on a 3-row file
    three = _tiff_write(samples[:3], 8, 1, 1, "little")
    tag257 = b"\x01\x01\x03\x00\x01\x00\x00\x00\x03\x00\x00\x00"
    at = three.index(tag257)
    lying = three[: at + 8] + (6).to_bytes(2, "little") + three[at + 10 :]
    with pytest.raises(ValueError, match="cover|bounds|truncated"):
        decode_tiff(lying)


def test_tiff_tiled_roundtrip():
    """Tile organisation (tags 322-325): row-major full-size tiles,
    edge tiles padded then cropped, predictor restarting per tile."""
    rng = np.random.default_rng(23)
    cases = [
        # bits, spp, photometric, comp, bo, pred, (tw, tl)
        (8, 1, 1, 1, "little", 1, (16, 16)),     # exact grid fit below
        (8, 3, 2, 5, "big", 2, (16, 16)),        # RGB LZW predictor
        (8, 1, 1, 32773, "little", 1, (16, 16)),
        (16, 1, 1, 5, "little", 2, (16, 16)),
        (4, 1, 3, 5, "big", 1, (16, 16)),        # palette sub-byte tiles
    ]
    for bits, spp, photometric, comp, bo, pred, tile in cases:
        # 27×21 → 2×2 tile grid with ragged right/bottom edges
        h, w = 21, 27
        samples = rng.integers(0, 1 << bits, (h, w, spp), dtype=np.int64)
        cmap = None
        if photometric == 3:
            cmap = rng.integers(0, 65536, (3, 1 << bits), dtype=np.uint16)
        payload = _tiff_write(
            samples, bits, photometric, comp, bo, pred, tile=tile, colormap=cmap
        )
        dw, dh, gray = decode_image(payload)
        assert (dw, dh) == (w, h), (bits, spp, photometric, comp)
        want = _want_gray(samples, bits, photometric, cmap)
        assert np.allclose(gray, want), (bits, spp, photometric, comp, bo, pred)

    # predictor-per-tile really is per-tile: a global-cumsum decoder
    # would mis-decode any tile whose left edge isn't column 0 — pin by
    # checking a constant image (differences all 0 inside each tile, so
    # a cross-tile cumsum would still decode the second tile correctly
    # ONLY if the first tile's last column were 0; use value 7)
    const = np.full((4, 40, 1), 7, np.int64)
    payload = _tiff_write(const, 8, 1, 5, "little", 2, tile=(16, 16))
    _, _, gray = decode_image(payload)
    assert np.allclose(gray, 7.0)

    # missing tiles → hard error, not silence
    short = _tiff_write(
        rng.integers(0, 256, (21, 27, 1), dtype=np.int64), 8, 1, 1, "little",
        tile=(16, 16),
    )
    tag324 = b"D\x01\x04\x00"  # tag 324 LONG — drop the count to 2
    at = short.index(tag324)
    broken = short[: at + 4] + (2).to_bytes(4, "little") + short[at + 8 :]
    with pytest.raises(ValueError, match="tiles|mismatch"):
        decode_tiff(broken)


def test_tiff_planar_configuration_2():
    """§14 planar RGB: plane-major separate strip sets per component,
    multi-strip planes, LZW + predictor-2 (differencing within each
    plane), 8- and 16-bit."""
    rng = np.random.default_rng(41)
    for bits, comp, pred, rps, bo in [
        (8, 1, 1, None, "little"),
        (8, 5, 2, 4, "big"),          # LZW + predictor, ragged strips
        (8, 32773, 1, 3, "little"),
        (16, 5, 2, 5, "little"),
    ]:
        h, w = 11, 9
        samples = rng.integers(0, 1 << bits, (h, w, 3), dtype=np.int64)
        payload = _tiff_write(
            samples, bits, 2, comp, bo, pred, rows_per_strip=rps, planar=2
        )
        dw, dh, gray = decode_image(payload)
        assert (dw, dh) == (w, h)
        assert np.allclose(gray, _want_gray(samples, bits, 2)), (bits, comp, pred)
    # a planar file missing one plane's strips errors loudly
    ok = _tiff_write(samples, 8, 2, 1, "little", planar=2)
    tag279 = b"\x17\x01\x04\x00"
    at = ok.index(tag279)
    short = ok[: at + 4] + (2).to_bytes(4, "little") + ok[at + 8 :]
    with pytest.raises(ValueError, match="strips|mismatch"):
        decode_tiff(short)


def test_tiff_16bit_both_orders_bit_exact():
    """16-bit gray carries >8-bit dynamic range: check a gradient maps
    to the exact 255/65535 rescale in both byte orders."""
    h, w = 4, 257
    vals = np.linspace(0, 65535, w, dtype=np.int64)
    samples = np.tile(vals, (h, 1)).reshape(h, w, 1)
    for bo in ("little", "big"):
        payload = _tiff_write(samples, 16, 1, 1, bo)
        dw, dh, gray = decode_image(payload)
        assert (dw, dh) == (w, h)
        assert np.allclose(gray, samples[:, :, 0] * (255.0 / 65535.0))


def test_tiff_decompression_bomb_caps():
    """Round-5 session-6 review finding: header dims are attacker-
    controlled and size the LZW budget / tile canvas — a tiny file
    claiming giant dimensions must error BEFORE allocating."""
    rng = np.random.default_rng(9)
    samples = rng.integers(0, 256, (4, 5, 1), dtype=np.int64)
    good = _tiff_write(samples, 8, 1, 5, "little")
    # patch ImageLength (tag 257 SHORT) to 65535 and ImageWidth to 65535
    for tag_prefix, val in ((b"\x00\x01\x03\x00\x01\x00\x00\x00", 65535),
                            (b"\x01\x01\x03\x00\x01\x00\x00\x00", 65535)):
        at = good.index(tag_prefix)
        good = good[: at + 8] + val.to_bytes(2, "little") + good[at + 10 :]
    with pytest.raises(ValueError, match="exceed the decoder cap"):
        decode_tiff(good)
    # absurd SamplesPerPixel rejected too
    bad_spp = _tiff_write(samples, 8, 1, 1, "little", extra_tags=[])
    at = bad_spp.index(b"\x15\x01\x03\x00\x01\x00\x00\x00")  # tag 277
    bad_spp = bad_spp[: at + 8] + (999).to_bytes(2, "little") + bad_spp[at + 10 :]
    with pytest.raises(ValueError, match="samples-per-pixel"):
        decode_tiff(bad_spp)
    # a count-0 IFD entry is skipped (ValueError taxonomy, not IndexError)
    zero_cnt = _tiff_write(samples, 8, 1, 1, "little")
    at = zero_cnt.index(b"\x00\x01\x03\x00\x01\x00\x00\x00")  # tag 256
    zero_cnt = zero_cnt[: at + 4] + (0).to_bytes(4, "little") + zero_cnt[at + 8 :]
    with pytest.raises(ValueError, match="missing required tag"):
        decode_tiff(zero_cnt)


def test_tiff_lzw_decode_is_linear_time():
    """Review finding: the unmasked bit accumulator made decode time
    QUADRATIC in strip size (50 s for a 548 KB strip). Guard the fix
    with a generous wall ceiling a quadratic implementation misses by
    an order of magnitude (~200 s at this size)."""
    import time

    rng = np.random.default_rng(2)
    h, w = 512, 1024  # 512 KB of high-entropy samples
    samples = rng.integers(0, 256, (h, w, 1), dtype=np.int64)
    payload = _tiff_write(samples, 8, 1, 5, "little")
    t0 = time.monotonic()
    dw, dh, gray = decode_tiff(payload)
    wall = time.monotonic() - t0
    assert (dw, dh) == (w, h)
    assert np.allclose(gray, samples[:, :, 0])
    assert wall < 30.0, f"LZW decode took {wall:.1f}s — accumulator regression?"


def test_tiff_deflate_roundtrip():
    """Deflate compression — tag 8 (registered) AND 32946 (the original
    value): strips, 16-bit RGB with predictor 2, tiles, and a corrupt
    zlib stream erroring inside the module's ValueError taxonomy."""
    rng = np.random.default_rng(21)
    s8 = rng.integers(0, 256, (13, 11, 1), dtype=np.int64)
    for comp in (8, 32946):
        p = _tiff_write(s8, 8, 1, comp, "little", rows_per_strip=4)
        dw, dh, gray = decode_image(p)
        assert (dw, dh) == (11, 13)
        assert np.allclose(gray, s8[:, :, 0].astype(np.float64))
    # 16-bit RGB, big-endian, horizontal-differencing predictor
    s16 = rng.integers(0, 65536, (9, 8, 3), dtype=np.int64)
    p = _tiff_write(s16, 16, 2, 8, "big", predictor=2)
    dw, dh, gray = decode_image(p)
    assert (dw, dh) == (8, 9)
    assert np.allclose(gray, _want_gray(s16, 16, 2))
    # tiled deflate with ragged edge tiles
    p = _tiff_write(s8, 8, 1, 8, "little", tile=(8, 8))
    dw, dh, gray = decode_image(p)
    assert (dw, dh) == (11, 13)
    assert np.allclose(gray, s8[:, :, 0].astype(np.float64))
    # corrupting the zlib stream raises ValueError, never escapes as
    # zlib.error (S9 rows catch Exception, but the taxonomy is the
    # module's contract)
    good = _tiff_write(s8, 8, 1, 8, "little")
    bad = good[:10] + bytes([good[10] ^ 0xFF]) + good[11:]
    with pytest.raises(ValueError, match="deflate|short TIFF"):
        decode_tiff(bad)
