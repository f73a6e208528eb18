"""Deterministic mutation fuzz over every from-scratch image decoder: valid
payloads from the repo's own test encoders, then seeded bit flips and
truncations. The S9 per-row contract only needs the extractors' broad
``except Exception`` — so the invariant here is TERMINATION and exception
SANITY (an ordinary Exception, never a hang, never SystemExit/MemoryError
via unbounded allocation). Every decoder walk must make progress on
arbitrary bytes; this is the test that would catch a non-advancing parse
loop before a poisoned 100-TB batch does."""

import zlib

import numpy as np
import pytest

from french_admin_etl_spark.operators.multimodal import decode_image


def _mutations(payload: bytes, rng, n_flips=30, n_truncs=10):
    """Deterministic corpus: byte flips at seeded offsets, truncations at
    seeded lengths, plus a few prefix-preserving garbage tails."""
    out = []
    for _ in range(n_flips):
        i = int(rng.integers(0, len(payload)))
        b = bytearray(payload)
        b[i] ^= 1 << int(rng.integers(0, 8))
        out.append(bytes(b))
    for _ in range(n_truncs):
        out.append(payload[: int(rng.integers(1, len(payload)))])
    out.append(payload + bytes(rng.integers(0, 256, 64, dtype=np.uint8)))
    return out


def _drive(fn, corpus):
    ok = err = 0
    for p in corpus:
        try:
            fn(p)
            ok += 1
        except Exception as e:  # noqa: BLE001 — the extractors catch this
            assert not isinstance(e, (SystemExit, KeyboardInterrupt))
            err += 1
    return ok, err


def _valid_image_payloads():
    rng = np.random.RandomState(0)
    # the first draw is kept so every payload below stays byte-identical
    rng.randint(0, 256, (16, 24))
    pay = {
        "pgm": b"P5\n24 16\n255\n" + bytes(rng.randint(0, 256, 24 * 16, dtype=np.uint8)),
        "pgm16": b"P5\n24 16\n65535\n"
        + rng.randint(0, 65536, 24 * 16).astype(">u2").tobytes(),
    }
    # BMP 24-bit, hand-rolled
    w, h = 6, 4
    stride = (w * 3 + 3) & ~3
    px = bytes(rng.randint(0, 256, stride * h, dtype=np.uint8))
    bmp = (
        b"BM" + (54 + len(px)).to_bytes(4, "little") + bytes(4)
        + (54).to_bytes(4, "little") + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little") + h.to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + bytes(24) + px
    )
    pay["bmp"] = bmp
    # TIFF via the test-suite writer: LZW+predictor gray, PackBits RGB,
    # big-endian palette — the three structurally distinct strip paths
    from test_tiff import _tiff_write

    timg = rng.randint(0, 256, (9, 11, 1)).astype(np.int64)
    pay["tiff_lzw"] = _tiff_write(timg, 8, 1, 5, "little", predictor=2)
    pay["tiff_pb_rgb"] = _tiff_write(
        np.repeat(timg, 3, axis=2), 8, 2, 32773, "little", rows_per_strip=3
    )
    cmap = rng.randint(0, 65536, (3, 16)).astype(np.uint16)
    pay["tiff_palette"] = _tiff_write(timg % 16, 4, 3, 5, "big", colormap=cmap)
    pay["tiff_tiled"] = _tiff_write(
        rng.randint(0, 256, (21, 27, 1)).astype(np.int64),
        8, 1, 5, "little", predictor=2, tile=(16, 16),
    )
    pay["tiff_deflate"] = _tiff_write(timg, 8, 1, 8, "little", rows_per_strip=4)
    # BI_RLE4 BMP (the hand vector from test_training_ops)
    pal4 = rng.randint(0, 256, (16, 4)).astype(np.uint8)
    off4 = 14 + 40 + 64
    pay["bmp_rle4"] = (
        b"BM" + (off4 + 64).to_bytes(4, "little") + bytes(4)
        + off4.to_bytes(4, "little") + (40).to_bytes(4, "little")
        + (9).to_bytes(4, "little", signed=True)
        + (3).to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (4).to_bytes(2, "little")
        + (2).to_bytes(4, "little") + bytes(12)
        + (16).to_bytes(4, "little") + bytes(4) + pal4.tobytes()
        + b"\x05\x7a\x00\x03\x56\x20\x01\x90\x00\x00"
        + b"\x00\x05\x12\x34\x50\x00\x04\xcc\x00\x00"
        + b"\x02\x3b\x00\x02\x02\x00\x03\x99\x00\x01"
    )
    # TGA (magicless: mutations may fall through to the generic
    # NotImplementedError — still an ordinary, terminating exception)
    from test_tga import _tga_write

    pay["tga_rle"] = _tga_write(
        rng.randint(0, 256, (9, 11, 3)).astype(np.int64), 10, 24, footer=True
    )
    pay["tga_pal"] = _tga_write(
        rng.randint(0, 16, (9, 11)).astype(np.int64), 1, 8,
        palette=rng.randint(0, 256, (16, 3)).astype(np.int64),
    )
    # ICO container (32-bpp DIB + palette DIB entries)
    from test_tga import _dib, _ico

    pay["ico"] = _ico([
        (8, 8, _dib(rng.randint(0, 8, (8, 8)).astype(np.int64), 8,
                    palette=rng.randint(0, 256, (256, 3)).astype(np.int64))),
        (12, 12, _dib(rng.randint(0, 256, (12, 12, 3)).astype(np.int64), 32)),
    ])
    # interlaced GIF and a minimal 8-bit gray PNG (filter 0 rows)
    import struct
    import zlib

    from test_training_ops import _gif_encode

    rng5 = np.random.RandomState(5)
    pal = rng5.randint(0, 256, (8, 3))
    idx = rng5.randint(0, 8, (9, 7)).astype(np.uint8)
    pay["gif"] = _gif_encode(idx, pal, 3, interlaced=True)
    gpx = rng5.randint(0, 256, (6, 5), dtype=np.uint8)
    raw = b"".join(b"\x00" + r.tobytes() for r in gpx)

    def chunk(tag, body):
        c = tag + body
        return len(body).to_bytes(4, "big") + c + zlib.crc32(c).to_bytes(4, "big")

    pay["png"] = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 5, 6, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    return pay


def test_fuzz_image_decoders_terminate():
    payloads = _valid_image_payloads()
    for name, p in payloads.items():
        # the pristine payload must decode
        w, h, gray = decode_image(p)
        assert gray.shape == (h, w)
        # crc32, not hash(): str hashes are salted per process, and a
        # failing mutation must replay from the same seed
        rng = np.random.default_rng(zlib.crc32(name.encode()) & 0xFFFF)
        ok, err = _drive(decode_image, _mutations(p, rng))
        assert ok + err == 41, name  # every mutation terminated


