"""Training-data pipeline operators: dedup (exact / MinHash-LSH / SimHash /
Jaccard), similarity search, text analysis, multimodal plumbing.

Strategy mirrors the reference's structural-assertion style
(``internal/transformers/csv_transformer_test.go``): tiny planted fixtures
with known dup/nn structure, assert the operator recovers it.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from french_admin_etl_spark.functions.text import (
    bpe_ish_token_count,
    fingerprint,
    lang_id,
    quality_features,
    token_count,
)
from french_admin_etl_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    extract_image_features,
    media_metadata,
)
from french_admin_etl_spark.operators.similarity import (
    cosine_topk,
    near_dup_pairs_cosine,
    sign_bucket,
    signature_bucket_ann,
)
from french_admin_etl_spark.operators.textdedup import (
    exact_dedup,
    hamming32,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signature,
    simhash32,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near-dup of 1
    (3, "completely different text about spark shuffle partitions and join skew"),
    (4, "THE  quick brown fox jumps over the lazy dog near the river bank today"),  # ws/case dup of 1
    (5, "le chat est dans la maison et le chien est dans le jardin pour la nuit"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"]).cache()


def test_exact_dedup_collapses_whitespace_case(docs):
    out = exact_dedup(docs, "doc_id", "text")
    by_canon = {r["canonical_doc_id"]: r["n_copies"] for r in out.collect()}
    assert by_canon[1] == 2  # docs 1 and 4 share a fingerprint
    assert by_canon[2] == 1 and by_canon[3] == 1 and by_canon[5] == 1


def test_minhash_lsh_finds_planted_near_dup(docs):
    sig = minhash_signature(docs, "doc_id", "text", num_hashes=16, shingle_n=3)
    assert len(sig.columns) == 17
    pairs = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(sig, "doc_id").collect()}
    assert (1, 4) in pairs  # exact dup always collides
    assert (1, 2) in pairs or (2, 4) in pairs  # near-dup lands in ≥1 band
    assert not any(3 in p or 5 in p for p in pairs)  # distinct docs don't


def test_jaccard_verifies_pairs(docs):
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           jaccard_pairs(docs, "doc_id", "text", threshold=0.3).collect()}
    assert out[(1, 4)] == 1.0  # identical shingle sets
    assert 0.5 < out[(1, 2)] < 1.0
    assert (1, 3) not in out


def test_simhash_clusters_near_dups(docs):
    sh = {r["doc_id"]: r["simhash"] for r in simhash32(docs, "doc_id", "text").collect()}
    assert sh[1] == sh[4]  # token multiset identical after lower/split
    d12 = bin(sh[1] ^ sh[2]).count("1")
    d13 = bin(sh[1] ^ sh[3]).count("1")
    assert d12 < d13  # near-dup closer in hamming space than unrelated doc
    assert all(0 <= v < 2**32 for v in sh.values())


def test_hamming32_column(spark):
    df = spark.createDataFrame([(0b1010, 0b0110)], ["a", "b"])
    assert df.select(hamming32(F.col("a"), F.col("b")).alias("h")).first()["h"] == 2


def test_lang_id_heuristic(docs):
    out = {r["doc_id"]: r["lang_guess"] for r in
           docs.select("doc_id", lang_id("text").alias("lang_guess")).collect()}
    assert out[1] == "en" and out[5] == "fr"


def test_text_feature_counts(spark):
    df = spark.createDataFrame([(1, "Hello, world! x2 done.")], ["id", "text"])
    row = df.select(
        token_count("text").alias("ws"),
        bpe_ish_token_count("text").alias("bpe"),
        fingerprint("text").alias("fp"),
        *[v.alias(k) for k, v in quality_features("text").items()],
    ).first()
    assert row["ws"] == 4
    # Hello , world ! x 2 done .  → 8 BPE-ish tokens
    assert row["bpe"] == 8
    assert row["fp"] == hashlib.md5(b"hello, world! x2 done.").hexdigest()
    assert row["n_chars"] == 22 and row["n_tokens"] == 4
    assert 0 < row["alpha_ratio"] < 1 and row["punct_ratio"] > 0


# ------------------------------------------------------------- similarity


VECS = [
    (0, [1.0, 0.0, 0.5, 0.2]),
    (1, [0.9, 0.1, 0.5, 0.2]),   # nearest to 0, same sign pattern
    (2, [-1.0, 0.3, -0.5, 0.1]),  # different bucket
    (3, [0.8, 0.0, 0.4, 0.3]),   # same bucket as 0
]


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(VECS, ["vec_id", "embedding"]).cache()


def _query(vecs):
    return vecs.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )


def test_bruteforce_topk_order(vecs):
    out = cosine_topk(vecs.filter("vec_id != 0"), _query(vecs), k=2).collect()
    assert [r["vec_id"] for r in out] == [1, 3]
    assert out[0]["cos_sim"] > 0.99


def test_sign_bucket_deterministic(vecs):
    got = {r["vec_id"]: r["b"] for r in
           vecs.select("vec_id", sign_bucket("embedding", 4).alias("b")).collect()}
    # bits: component i>0 → bit i. vec0: dims 1,3,4 positive (idx 0,2,3) → 0b1101
    assert got[0] == 0b1101 and got[1] == 0b1111 and got[2] == 0b1010
    assert got[3] == 0b1101


def test_ann_bucket_prunes_but_finds_same_bucket_nn(vecs):
    out = signature_bucket_ann(
        vecs.filter("vec_id != 0"), _query(vecs), k=5, bits=4
    ).collect()
    ids = [r["vec_id"] for r in out]
    assert 3 in ids and 2 not in ids  # bucket pruning removed vec 2


def test_near_dup_pairs_blocking(vecs):
    pairs = {(r["id_a"], r["id_b"]) for r in
             near_dup_pairs_cosine(vecs, threshold=0.9, bits=4).collect()}
    assert (0, 3) in pairs
    assert not any(2 in p for p in pairs)


# ------------------------------------------------------------- multimodal


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, "image", "image/png", b"\x89PNG" + b"a" * 100),
        (2, "image", "image/png", b"\x89PNG" + b"b" * 200),
        (3, "video", "video/mp4", b"\x00\x00ftyp" + b"c" * 300),
        (4, "image", "image/png", None),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA).cache()


def test_media_metadata_scan_only(media):
    out = {r["media_id"]: r for r in media_metadata(media).collect()}
    assert out[1]["n_bytes"] == 104
    assert out[1]["magic_hex"] == "89504E47"
    assert out[1]["sha256"] == hashlib.sha256(b"\x89PNG" + b"a" * 100).hexdigest()
    assert out[4]["n_bytes"] is None


def test_image_feature_extraction_stub(media):
    out = {r["media_id"]: r for r in extract_image_features(media).collect()}
    assert set(out) == {1, 2, 4}  # images only; null payload propagates nulls
    assert out[1]["sha256"] == hashlib.sha256(b"\x89PNG" + b"a" * 100).hexdigest()
    assert len(out[1]["feature"]) == 8
    assert 64 <= out[1]["width"] < 256 and 64 <= out[1]["height"] < 256
    assert out[4]["width"] is None
    # determinism: same payload → same feature
    again = {r["media_id"]: r for r in extract_image_features(media).collect()}
    assert again[2]["feature"] == out[2]["feature"]


def _ppm(w, h, rgb_fn):
    header = f"P6\n# test\n{w} {h}\n255\n".encode()
    body = bytes(c for y in range(h) for x in range(w) for c in rgb_fn(x, y))
    return header + body


def _bmp24(w, h, rgb_fn):
    """Minimal 24-bit bottom-up BMP with 4-byte row padding."""
    stride = (w * 3 + 3) & ~3
    body = b""
    for y in range(h - 1, -1, -1):  # bottom-up
        row = b"".join(bytes(rgb_fn(x, y)[::-1]) for x in range(w))  # BGR
        body += row + b"\x00" * (stride - w * 3)
    off = 54
    header = (
        b"BM" + (off + len(body)).to_bytes(4, "little") + b"\x00" * 4
        + off.to_bytes(4, "little") + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True) + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + len(body).to_bytes(4, "little")
        + b"\x00" * 16
    )
    return header + body


def test_real_image_decode_ppm_bmp_and_err_isolation(spark):
    """REAL decode (no image libraries): the same half-black/half-white
    image as PPM and as padded bottom-up BMP must decode to identical
    dimensions and 8x8 thumbnail features; an undecodable PNG in the SAME
    batch gets a per-row err instead of failing the job (S9)."""
    fn = lambda x, y: (255, 255, 255) if x >= 8 else (0, 0, 0)  # noqa: E731
    rows = [
        (1, "image", "image/x-ppm", _ppm(16, 12, fn)),
        (2, "image", "image/bmp", _bmp24(16, 12, fn)),
        (3, "image", "image/png", b"\x89PNG" + b"z" * 50),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {
        r["media_id"]: r
        for r in extract_image_features(media, decode_stub=False).collect()
    }
    assert (out[1]["width"], out[1]["height"]) == (16, 12)
    assert (out[2]["width"], out[2]["height"]) == (16, 12)
    assert len(out[1]["feature"]) == 64
    assert out[1]["feature"] == out[2]["feature"]  # PPM == BMP, same pixels
    # thumbnail columns: left half black (0.0), right half white (1.0)
    thumb = out[1]["feature"]
    assert all(thumb[r * 8 + c] == 0.0 for r in range(8) for c in range(4))
    assert all(thumb[r * 8 + c] == 1.0 for r in range(8) for c in range(4, 8))
    assert out[3]["feature"] is None and "codec" in out[3]["err"]
    assert out[1]["err"] is None


def test_simhash_near_dup_pairs_pigeonhole_equals_bruteforce(docs, spark):
    """Band-blocked simhash pairs at hamming <= 3 must equal the brute-force
    all-pairs answer exactly (pigeonhole: distance < bands guarantees a
    shared band, so blocking loses nothing)."""
    from french_admin_etl_spark.operators.textdedup import simhash_near_dup_pairs

    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=3).collect()
    }
    sig = {r["doc_id"]: r["simhash"] for r in simhash32(docs, "doc_id", "text").collect()}
    exp = {}
    ids = sorted(sig)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin(sig[a] ^ sig[b]).count("1")
            if h <= 3:
                exp[(a, b)] = h
    assert got == exp
    assert (1, 4) in got  # whitespace/case dup: identical token multiset -> distance 0


def test_simhash_near_dup_rejects_bad_config(docs):
    from french_admin_etl_spark.operators.textdedup import simhash_near_dup_pairs

    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=4, bands=4)


def test_cdc_chunks_reconstruct_and_are_shift_invariant(spark):
    """Content-defined chunking: (1) chunks concatenate back to the exact
    document; (2) boundaries are content-defined, so inserting a prefix
    shifts every offset yet the later chunks keep IDENTICAL fingerprints
    — the property that makes sub-document dedup work."""
    from french_admin_etl_spark.operators.textdedup import content_defined_chunks

    body = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep dark forest tonight while the moon rises slowly "
        "over the silent hills and the river keeps flowing to the sea"
    )
    docs = spark.createDataFrame(
        [(1, body), (2, "INSERTED PREFIX CHANGES ALL OFFSETS " + body), (3, "ab")],
        "doc_id int, text string",
    )
    rows = content_defined_chunks(docs, "doc_id", "text").collect()
    by = {}
    for r in rows:
        by.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["chunk"], r["chunk_hash"]))
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for d, chunks in by.items():
        assert "".join(c for _, c, _ in sorted(chunks)) == texts[d]
    assert len(by[3]) == 1  # short doc = one whole-text chunk
    h1 = {h for _, _, h in by[1]}
    h2 = {h for _, _, h in by[2]}
    # every chunk of doc 1 except (at most) the first survives the shift
    assert len(h1 & h2) >= len(h1) - 1 and len(h1) >= 3


def test_shared_chunks_finds_planted_subdocument_dup(spark):
    """A passage copied between otherwise-different documents must surface
    as shared chunk fingerprints with n_docs == 2."""
    from french_admin_etl_spark.operators.textdedup import shared_chunks

    passage = (
        "this exact passage was copied verbatim between two documents and "
        "content defined chunking should isolate it as identical chunks "
        "regardless of what surrounds it in either document body"
    )
    docs = spark.createDataFrame(
        [
            (1, "unique opening words here " + passage + " unique closing one"),
            (2, "totally different framing text " + passage + " other ending"),
            (3, "unrelated document with none of that shared content at all"),
        ],
        "doc_id int, text string",
    )
    out = shared_chunks(docs, "doc_id", "text").collect()
    assert out, "no shared chunks found for a planted duplicate passage"
    assert all(r["n_docs"] == 2 for r in out)


def test_clamped_chunks_cross_check_and_bounds(spark):
    """The Arrow (mapInPandas) clamped chunker: (1) with loose clamps its
    boundaries equal the pure-JVM content_defined_chunks EXACTLY — the
    Python and JVM implementations cross-check each other; (2) with real
    clamps every chunk respects min/max bounds and still reconstructs."""
    from french_admin_etl_spark.operators.textdedup import (
        content_defined_chunks,
        content_defined_chunks_clamped,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(60)

    jvm = {
        (r["doc_id"], r["chunk_idx"]): r["chunk_hash"]
        for r in content_defined_chunks(docs, "doc_id", "text", mod=32).collect()
    }
    loose = {
        (r["doc_id"], r["chunk_idx"]): r["chunk_hash"]
        for r in content_defined_chunks_clamped(
            docs, "doc_id", "text", mod=32, min_len=1, max_len=10**9
        ).collect()
    }
    assert loose == jvm  # bit-identical boundaries + hashes

    clamped = content_defined_chunks_clamped(
        docs, "doc_id", "text", mod=32, min_len=8, max_len=40
    ).collect()
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    by = {}
    for r in clamped:
        by.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["chunk"]))
    for d, chunks in by.items():
        ordered = [c for _, c in sorted(chunks)]
        assert "".join(ordered) == texts[d]  # reconstruction
        assert all(len(c) <= 40 for c in ordered)  # max clamp
        # min clamp: every chunk but the last is >= min_len (the tail may
        # be short — there is nothing after it to merge into)
        assert all(len(c) >= 8 for c in ordered[:-1])


def test_connected_components_known_graph(spark):
    """Chain, triangle, and an isolated edge — labels converge to the
    component minimum; a chain (diameter 3) needs multiple propagation
    rounds, which exercises the fixpoint loop."""
    from french_admin_etl_spark.operators.textdedup import connected_components

    edges = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13),     # chain 10-11-12-13
         (20, 21), (21, 22), (20, 22),     # triangle
         (30, 31)],                        # isolated pair
        "id_a int, id_b int",
    )
    comp = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert comp == {10: 10, 11: 10, 12: 10, 13: 10,
                    20: 20, 21: 20, 22: 20,
                    30: 30, 31: 30}


def test_dedup_clusters_on_planted_dups(docs, spark):
    """The DOCS fixture plants exact + near duplicates; the cluster
    summary must group them under the min doc id with the right sizes."""
    from french_admin_etl_spark.operators.textdedup import dedup_clusters, jaccard_pairs

    out = {r["cluster_id"]: r for r in
           dedup_clusters(docs, "doc_id", "text", threshold=0.4).collect()}
    # ground truth from the (tiny) all-pairs jaccard at the same threshold
    pairs = jaccard_pairs(docs, "doc_id", "text", threshold=0.4).collect()
    import collections
    adj = collections.defaultdict(set)
    for r in pairs:
        adj[r["id_a"]].add(r["id_b"])
        adj[r["id_b"]].add(r["id_a"])
    seen, want = set(), {}
    for v in sorted(adj):
        if v in seen:
            continue
        stack, members = [v], set()
        while stack:
            u = stack.pop()
            if u in members:
                continue
            members.add(u)
            stack.extend(adj[u] - members)
        seen |= members
        want[min(members)] = len(members)
    assert {c: r["n_docs"] for c, r in out.items()} == want


def test_corrupt_media_rows_isolated_not_fatal(spark):
    """Reviewer finding: corrupt payloads with a SUPPORTED magic raised
    ValueError/EOFError past the old narrow catches and killed the task.
    Every malformed row must become a per-row err, never a job failure."""
    rows = [
        (1, "image", "image/x-ppm", b"P6\n16 12\n255\n\x00\x01"),   # truncated pixels
        (2, "image", "image/x-ppm", b"P6\nnot a number\n"),          # garbage header
        (3, "image", "image/bmp", b"BM" + b"\x00" * 20),             # truncated BMP
        (4, "image", "image/x-ppm", _ppm(4, 4, lambda x, y: (9, 9, 9))),  # healthy
        # JPEG is an unsupported codec: the seam, not a crash
        (5, "image", "image/jpeg", b"\xff\xd8\xff\xdb\x00\x43\x00" + bytes(64) + b"\xff\xd9"),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {
        r["media_id"]: r
        for r in extract_image_features(media, decode_stub=False).collect()
    }
    assert out[1]["err"] and out[2]["err"] and out[3]["err"]
    assert out[4]["err"] is None and out[4]["width"] == 4  # batch survived
    assert out[5]["err"].startswith("NotImplementedError: codec not decodable")


def test_connected_components_raises_on_nonconvergence(spark):
    """A pair chain longer than max_iterations must raise, not silently
    return a split cluster with wrong canonical ids."""
    import pytest as _pytest

    from french_admin_etl_spark.operators.textdedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10, 17)], "id_a int, id_b int"
    )
    with _pytest.raises(RuntimeError, match="converge"):
        connected_components(chain, max_iterations=2)
    # and with enough rounds the same chain resolves fine
    comp = {r["id"]: r["component"] for r in
            connected_components(chain, max_iterations=20).collect()}
    assert set(comp.values()) == {10}


def test_redact_pii_and_counts(spark):
    from french_admin_etl_spark.functions.text import pii_counts, redact_pii

    rows = [
        (1, "mail me at jane.doe+x@sub.example.org or at 192.168.0.1 please"),
        (2, "call +33 1 42 68 53 00 today"),
        (3, "clean text, no identifiers here"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    c = pii_counts("text")
    got = {
        r["id"]: r
        for r in df.select(
            "id",
            redact_pii("text").alias("red"),
            c["n_email"].alias("ne"), c["n_ipv4"].alias("ni"), c["n_phone"].alias("np"),
        ).collect()
    }
    assert got[1]["red"] == "mail me at <EMAIL> or at <IPV4> please"
    assert (got[1]["ne"], got[1]["ni"], got[1]["np"]) == (1, 1, 0)
    assert got[2]["red"] == "call <PHONE> today"
    assert (got[2]["ne"], got[2]["ni"], got[2]["np"]) == (0, 0, 1)
    assert got[3]["red"] == rows[2][1]
    assert (got[3]["ne"], got[3]["ni"], got[3]["np"]) == (0, 0, 0)


def test_dedup_lines_first_occurrence_order(spark):
    from french_admin_etl_spark.functions.text import dedup_lines, repeated_line_count

    df = spark.createDataFrame(
        [(1, "header\nbody one\nheader\nbody two\nheader"), (2, "a\nb\nc")],
        "id int, text string",
    )
    got = {
        r["id"]: (r["d"], r["n"])
        for r in df.select(
            "id",
            dedup_lines("text").alias("d"),
            repeated_line_count("text").alias("n"),
        ).collect()
    }
    assert got[1] == ("header\nbody one\nbody two", 2)
    assert got[2] == ("a\nb\nc", 0)


def test_png_decode_all_filters(spark):
    """Library-free PNG decode: encode PNGs by hand (zlib + struct) using
    every scanline filter type and each supported color type; the decoder
    must reproduce the exact pixel array (validated against the PPM
    decode of the same pixels for the RGB case)."""
    import struct
    import zlib

    import numpy as np

    from french_admin_etl_spark.operators.multimodal import decode_image

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    def encode_png(px, ctype, filters):
        h, w, ch = px.shape
        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
        raw = bytearray()
        prev = np.zeros((w, ch), dtype=np.int32)
        for y in range(h):
            f = filters[y % len(filters)]
            cur = px[y].astype(np.int32)
            line = np.zeros_like(cur)
            for x in range(w):
                a = cur[x - 1] if x else np.zeros(ch, np.int32)
                b = prev[x]
                c = prev[x - 1] if x else np.zeros(ch, np.int32)
                if f == 0:
                    v = cur[x]
                elif f == 1:
                    v = cur[x] - a
                elif f == 2:
                    v = cur[x] - b
                elif f == 3:
                    v = cur[x] - ((a + b) >> 1)
                else:
                    p = a + b - c
                    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
                    pred = np.where(
                        (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c)
                    )
                    v = cur[x] - pred
                line[x] = v & 0xFF
            raw.append(f)
            raw.extend(line.astype(np.uint8).tobytes())
            prev = cur
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )

    rng = np.random.default_rng(3)
    rgb = rng.integers(0, 256, (7, 5, 3), dtype=np.uint8)
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        w, h, gray = decode_image(encode_png(rgb, 2, filters))
        assert (w, h) == (5, 7)
        want = 0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]
        assert np.allclose(gray, want)
    # grayscale and RGBA color types
    g = rng.integers(0, 256, (4, 6, 1), dtype=np.uint8)
    _, _, gray_g = decode_image(encode_png(g, 0, [4]))
    assert np.array_equal(gray_g, g[:, :, 0].astype(np.float64))
    rgba = np.concatenate([rgb, np.full((7, 5, 1), 9, np.uint8)], axis=2)
    _, _, gray_a = decode_image(encode_png(rgba, 6, [3]))
    assert np.allclose(gray_a, want)
    # PPM cross-check: same pixels through the independent decoder
    ppm = b"P6\n5 7\n255\n" + rgb.tobytes()
    _, _, gray_ppm = decode_image(ppm)
    assert np.allclose(gray_ppm, want)
    # an all-zero Adam7 stream decodes to black (interlace was a seam
    # until round 5; the real round-trip lives in test_png_depths_palette_adam7).
    # Exactly the Adam7 raw size for 5x7 RGB — the decoder's bounded
    # inflate (review finding: bomb cap) rejects over-length streams, and
    # a compliant encoder never emits slack bytes.
    z_ihdr = struct.pack(">IIBBBBB", 5, 7, 8, 2, 0, 0, 1)
    z_raw = sum(
        ph * (1 + (pw * 3 * 8 + 7) // 8)
        for x0, y0, dx, dy in (
            (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
            (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
        )
        for pw in [(5 - x0 + dx - 1) // dx]
        for ph in [(7 - y0 + dy - 1) // dy]
        if pw and ph
    )
    zeros = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", z_ihdr)
        + chunk(b"IDAT", zlib.compress(b"\x00" * z_raw))
        + chunk(b"IEND", b"")
    )
    wz, hz, gz = decode_image(zeros)
    assert (wz, hz) == (5, 7) and float(np.abs(gz).max()) == 0.0


def test_dedup_lines_literal_separator(spark):
    """Regex-metachar separators are treated literally (reviewer finding:
    '|' as a regex splits per character and garbles the text)."""
    from french_admin_etl_spark.functions.text import dedup_lines, repeated_line_count

    df = spark.createDataFrame([(1, "ab|cd|ab|ef")], "id int, text string")
    r = df.select(
        dedup_lines("text", sep="|").alias("d"),
        repeated_line_count("text", sep="|").alias("n"),
    ).collect()[0]
    assert r["d"] == "ab|cd|ef" and r["n"] == 1


def test_redact_pii_national_phone(spark):
    """French national numbers (the reference domain) must not leak."""
    from french_admin_etl_spark.functions.text import pii_counts, redact_pii

    df = spark.createDataFrame(
        [(1, "appelez le 01 42 68 53 00 ce soir")], "id int, text string"
    )
    c = pii_counts("text")
    r = df.select(redact_pii("text").alias("red"), c["n_phone"].alias("np")).collect()[0]
    assert r["red"] == "appelez le <PHONE> ce soir" and r["np"] == 1


def _gif_encode(idx, palette, min_code_size, interlaced=False, animated_junk=False):
    """From-scratch GIF89a encoder for round-trip testing the decoder:
    real variable-width LZW (dictionary growth, width bumps synchronized
    with the decoder's table-size rule, stop-adding at 4096 = deferred
    clear), optional 4-pass interlace row order, optional trailing junk
    frame to prove the decoder reads only the first image."""
    import numpy as np

    h, w = idx.shape
    n = len(palette)
    assert n & (n - 1) == 0 and 2 <= n <= 256
    gct_bits = max(1, (n - 1).bit_length()) - 1 if n > 1 else 0
    gct_bits = (n.bit_length() - 1) - 1  # 2<<gct_bits == n
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x80 | gct_bits, 0, 0])
    out += bytes(np.asarray(palette, np.uint8).reshape(-1))
    # a graphic-control extension, to exercise the extension skipper
    out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    out += b"\x2c" + (0).to_bytes(2, "little") * 2
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x40 if interlaced else 0x00])
    rows = idx
    if interlaced:
        order = (
            list(range(0, h, 8)) + list(range(4, h, 8))
            + list(range(2, h, 4)) + list(range(1, h, 2))
        )
        rows = idx[order]
    pixels = bytes(rows.reshape(-1))

    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    bits = bytearray()
    acc = nbits = 0

    def emit(code):
        nonlocal acc, nbits, width
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            bits.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
        # giflib convention: the code that fills the table still goes out
        # at the OLD width; the bump takes effect for the following code
        # (checked at emit time against the pre-insert next_code)
        if next_code >= (1 << width) and width < 12:
            width += 1

    emit(clear)
    wseq = b""
    for c in pixels:
        wc = wseq + bytes([c])
        if wc in table:
            wseq = wc
            continue
        emit(table[wseq])
        if next_code < 4096:
            table[wc] = next_code
            next_code += 1
        wseq = bytes([c])
    if wseq:
        emit(table[wseq])
    emit(eoi)
    if nbits:
        bits.append(acc & 0xFF)
    out += bytes([min_code_size])
    for i in range(0, len(bits), 255):
        blk = bits[i : i + 255]
        out += bytes([len(blk)]) + blk
    out += b"\x00"
    if animated_junk:
        # a second 1x1 frame of garbage the decoder must never reach
        out += b"\x2c" + b"\x00" * 4 + (1).to_bytes(2, "little") * 2 + b"\x00"
        out += bytes([min_code_size, 1, 0xFF, 0x00])
    out += b"\x3b"
    return bytes(out)


def test_gif_decode_roundtrip(spark):
    """Library-free GIF decode (round-5 codec off the seam list): LZW
    with dictionary growth + width bumps, interlace, extension skipping,
    first-frame-only on animated files — all round-tripped against the
    from-scratch encoder above, pixel-exact vs the palette-applied
    truth."""
    import numpy as np

    from french_admin_etl_spark.operators.multimodal import decode_image

    rng = np.random.default_rng(11)
    for (h, w), n_colors, interlaced, junk in [
        ((13, 9), 256, False, False),
        ((16, 7), 256, True, False),     # interlace scatter
        ((40, 31), 16, False, True),     # dict growth + first-frame-only
        ((9, 5), 4, True, True),
        ((64, 48), 256, False, False),   # enough pixels for width bumps
    ]:
        palette = rng.integers(0, 256, (n_colors, 3), dtype=np.uint8)
        idx = rng.integers(0, n_colors, (h, w), dtype=np.uint8)
        # low-entropy band so LZW actually builds long dictionary runs
        idx[: h // 2] = idx[0]
        mcs = max(2, (n_colors - 1).bit_length())
        gif = _gif_encode(idx, palette, mcs, interlaced, junk)
        dw, dh, gray = decode_image(gif)
        assert (dw, dh) == (w, h)
        rgb = palette[idx].astype(np.float64)
        want = 0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]
        assert np.allclose(gray, want)
    # corrupt/truncated GIFs fail row-local (the S9 contract), not batch
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_image(b"GIF89a" + b"\x00" * 7 + b"\x3b")
    palette = rng.integers(0, 256, (4, 3), dtype=np.uint8)
    whole = _gif_encode(np.zeros((6, 6), np.uint8), palette, 2)
    with _pytest.raises(ValueError, match="truncated|ended"):
        decode_image(whole[:-8])


def test_png_depths_palette_adam7():
    """Round 5 PNG surface: 16-bit samples, sub-byte gray depths,
    palette (PLTE) images, and Adam7 interlace — each encoded by hand
    (the 7-pass splitter built HERE pins RFC 2083 §8.2, not a library)
    and decoded back exactly."""
    import struct
    import zlib

    import numpy as np

    from french_admin_etl_spark.operators.multimodal import decode_image

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    def pack_rows(px, depth):
        """(h, w, ch) int → filtered-as-0 scanline bytes at depth."""
        h, w, ch = px.shape
        raw = bytearray()
        for y in range(h):
            raw.append(0)  # filter none
            if depth == 8:
                raw.extend(px[y].astype(np.uint8).tobytes())
            elif depth == 16:
                raw.extend(px[y].astype(">u2").tobytes())
            else:
                bits = []
                for v in px[y].reshape(-1):
                    bits.extend(int(b) for b in f"{int(v):0{depth}b}")
                while len(bits) % 8:
                    bits.append(0)
                raw.extend(
                    int("".join(map(str, bits[i : i + 8])), 2)
                    for i in range(0, len(bits), 8)
                )
        return bytes(raw)

    def encode(px, ctype, depth, interlace=0, plte=None):
        h, w, ch = px.shape
        ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
        if interlace == 0:
            raw = pack_rows(px, depth)
        else:  # Adam7: 7 independently-filtered reduced images
            passes = [
                (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
                (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
            ]
            raw = b""
            for x0, y0, dx, dy in passes:
                sub = px[y0::dy, x0::dx]
                if sub.size:
                    raw += pack_rows(sub, depth)
        out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        if plte is not None:
            out += chunk(b"PLTE", plte)
        return out + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")

    rng = np.random.default_rng(17)

    # 16-bit gray: scaling is 255/65535, exact in float64
    g16 = rng.integers(0, 65536, (6, 9, 1))
    _, _, gray = decode_image(encode(g16, 0, 16))
    assert np.allclose(gray, g16[:, :, 0] * (255.0 / 65535.0))

    # 16-bit RGB
    rgb16 = rng.integers(0, 65536, (5, 4, 3))
    _, _, gray = decode_image(encode(rgb16, 2, 16))
    want = (
        0.299 * rgb16[:, :, 0] + 0.587 * rgb16[:, :, 1] + 0.114 * rgb16[:, :, 2]
    ) * (255.0 / 65535.0)
    assert np.allclose(gray, want)

    # sub-byte gray depths (w=11 exercises partial trailing byte)
    for depth in (1, 2, 4):
        gd = rng.integers(0, 1 << depth, (7, 11, 1))
        _, _, gray = decode_image(encode(gd, 0, depth))
        assert np.allclose(gray, gd[:, :, 0] * (255.0 / ((1 << depth) - 1))), depth

    # palette: indices → PLTE RGB → BT.601 gray
    pal = rng.integers(0, 256, (16, 3)).astype(np.uint8)
    idx = rng.integers(0, 16, (6, 7, 1))
    _, _, gray = decode_image(encode(idx, 3, 8, plte=pal.tobytes()))
    prgb = pal[idx[:, :, 0]].astype(np.float64)
    assert np.allclose(
        gray, 0.299 * prgb[..., 0] + 0.587 * prgb[..., 1] + 0.114 * prgb[..., 2]
    )
    # 4-bit palette indices (packed two per byte)
    _, _, gray4 = decode_image(encode(idx, 3, 4, plte=pal.tobytes()))
    assert np.allclose(gray4, gray)

    # Adam7 == sequential, on dims that exercise every pass incl. empty
    # tails (10x9) and a sub-8 image where passes 1-4 shrink to slivers
    for (h, w) in ((9, 10), (5, 3)):
        rgb = rng.integers(0, 256, (h, w, 3))
        seq = decode_image(encode(rgb, 2, 8))
        i7 = decode_image(encode(rgb, 2, 8, interlace=1))
        assert seq[:2] == (w, h) and i7[:2] == (w, h)
        assert np.array_equal(seq[2], i7[2]), (h, w)
    # interlaced 16-bit palette-free gray too (depth x interlace cross)
    g = rng.integers(0, 65536, (9, 10, 1))
    assert np.array_equal(
        decode_image(encode(g, 0, 16))[2], decode_image(encode(g, 0, 16, 1))[2]
    )

    # malformed: truncated interlaced stream + out-of-range palette index
    import pytest as _pytest

    full = encode(rgb16, 2, 16, interlace=1)
    i = full.index(b"IDAT") - 4
    short = zlib.compress(zlib.decompress(full[i + 8 : -12 - 4])[:-30])
    bad = full[:i] + chunk(b"IDAT", short) + chunk(b"IEND", b"")
    with _pytest.raises(ValueError, match="truncated"):
        decode_image(bad)
    with _pytest.raises(ValueError, match="palette"):
        decode_image(encode(np.full((2, 2, 1), 15), 3, 8, plte=bytes(9)))


def test_pnm_16bit_and_bmp_palette():
    """Round 5: wide PNM (maxval > 255, 2-byte big-endian samples,
    rescaled to [0,255]) and 8-bit palette BMP (BGRA color table,
    biClrUsed=0 → 256 entries) decode; out-of-range palette index and
    out-of-spec maxval raise."""
    import numpy as np
    import pytest as _pytest

    from french_admin_etl_spark.operators.multimodal import decode_image

    rng = np.random.default_rng(23)

    # P5 gray at maxval 65535 and P6 RGB at a non-power maxval
    g16 = rng.integers(0, 65536, (5, 7))
    pgm = b"P5\n7 5\n65535\n" + g16.astype(">u2").tobytes()
    w, h, gray = decode_image(pgm)
    assert (w, h) == (7, 5)
    assert np.allclose(gray, g16 * (255.0 / 65535.0))
    rgb = rng.integers(0, 1001, (4, 3, 3))
    ppm = b"P6\n# wide\n3 4\n1000\n" + rgb.astype(">u2").tobytes()
    _, _, gray = decode_image(ppm)
    want = (
        0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]
    ) * (255.0 / 1000.0)
    assert np.allclose(gray, want)
    with _pytest.raises(ValueError, match="maxval"):
        decode_image(b"P5\n2 2\n70000\n" + bytes(16))

    # palette BMP, bottom-up, w=5 exercises row padding (stride 8)
    pal = rng.integers(0, 256, (16, 4)).astype(np.uint8)  # BGRA quads
    idx = rng.integers(0, 16, (4, 5)).astype(np.uint8)
    stride = (5 + 3) & ~3
    pixdata = b"".join(
        idx[y].tobytes() + bytes(stride - 5) for y in range(3, -1, -1)
    )
    off = 14 + 40 + 16 * 4
    header = (
        b"BM" + (off + len(pixdata)).to_bytes(4, "little") + bytes(4)
        + off.to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + (5).to_bytes(4, "little", signed=True)
        + (4).to_bytes(4, "little", signed=True)  # positive: bottom-up
        + (1).to_bytes(2, "little") + (8).to_bytes(2, "little")
        + bytes(4)  # BI_RGB
        + bytes(12)
        + (16).to_bytes(4, "little")  # biClrUsed
        + bytes(4)
    )
    bmp = header + pal.tobytes() + pixdata
    w, h, gray = decode_image(bmp)
    assert (w, h) == (5, 4)
    c = pal[idx].astype(np.float64)
    want = 0.299 * c[:, :, 2] + 0.587 * c[:, :, 1] + 0.114 * c[:, :, 0]
    assert np.allclose(gray, want)
    # palette index beyond biClrUsed is malformed, not garbage pixels
    bad_idx = idx.copy()
    bad_idx[0, 0] = 99
    bad_pix = b"".join(
        bad_idx[y].tobytes() + bytes(stride - 5) for y in range(3, -1, -1)
    )
    with _pytest.raises(ValueError, match="palette"):
        decode_image(header + pal.tobytes() + bad_pix)


def test_bmp_subbyte_palette_and_rle8():
    """Round 5 BMP surface: 1/4-bit palette rows (MSB-first packing) and
    BI_RLE8 compression (runs, end-of-line, delta skip, absolute mode,
    end-of-bitmap) — decoded against hand-built expected grids."""
    import numpy as np
    import pytest as _pytest

    from french_admin_etl_spark.operators.multimodal import decode_image

    rng = np.random.RandomState(12)

    def hdr(w, h, bpp, compression, n_colors, pal):
        off = 14 + 40 + n_colors * 4
        return (
            b"BM" + (off + 64).to_bytes(4, "little") + bytes(4)
            + off.to_bytes(4, "little")
            + (40).to_bytes(4, "little")
            + w.to_bytes(4, "little", signed=True)
            + h.to_bytes(4, "little", signed=True)
            + (1).to_bytes(2, "little") + bpp.to_bytes(2, "little")
            + compression.to_bytes(4, "little")
            + bytes(12)
            + n_colors.to_bytes(4, "little")
            + bytes(4)
            + pal.tobytes()
        )

    def gray_of(pal, idx):
        c = pal[idx].astype(np.float64)
        return 0.299 * c[:, :, 2] + 0.587 * c[:, :, 1] + 0.114 * c[:, :, 0]

    # 4-bit palette, w=5 (odd: trailing nibble pad), bottom-up
    pal = rng.randint(0, 256, (16, 4)).astype(np.uint8)
    idx = rng.randint(0, 16, (3, 5)).astype(np.uint8)
    stride = (((5 * 4 + 7) // 8) + 3) & ~3
    rows = bytearray()
    for y in range(2, -1, -1):  # bottom-up
        packed = bytearray()
        row = list(idx[y]) + [0]  # pad to even count
        for i in range(0, 6, 2):
            packed.append((row[i] << 4) | row[i + 1])
        rows += packed + bytes(stride - len(packed))
    w, h, gray = decode_image(hdr(5, 3, 4, 0, 16, pal) + bytes(rows))
    assert (w, h) == (5, 3)
    assert np.allclose(gray, gray_of(pal, idx))

    # 1-bit: 9 px wide → 2 bytes of bits per row
    pal1 = rng.randint(0, 256, (2, 4)).astype(np.uint8)
    idx1 = rng.randint(0, 2, (2, 9)).astype(np.uint8)
    stride = (((9 + 7) // 8) + 3) & ~3
    rows = bytearray()
    for y in (1, 0):
        bits = "".join(str(v) for v in idx1[y]) + "0" * 7
        packed = bytes(int(bits[i : i + 8], 2) for i in range(0, 16, 8))
        rows += packed + bytes(stride - len(packed))
    w, h, gray = decode_image(hdr(9, 2, 1, 0, 2, pal1) + bytes(rows))
    assert (w, h) == (9, 2)
    assert np.allclose(gray, gray_of(pal1, idx1))

    # BI_RLE8 exercising every escape. Stored rows are bottom-up, so
    # stored row 0 is display row 2 of a 3-row image (w=8).
    pal8 = rng.randint(0, 256, (256, 4)).astype(np.uint8)
    # run(3x7) | absolute(3 literals + even pad) | run(2x9) | EOL
    rle = bytes([3, 7]) + bytes([0, 3, 5, 6, 2, 0]) + bytes([2, 9]) + bytes([0, 0])
    rle += bytes([0, 2, 1, 1])   # delta: skip 1 right, 1 row up (stored)
    rle += bytes([4, 1])         # run of 4 color 1
    rle += bytes([0, 1])         # end of bitmap
    expect = np.zeros((3, 8), np.uint8)
    expect[0, 0:3] = 7                      # run
    expect[0, 3:6] = [5, 6, 2]              # absolute
    expect[0, 6:8] = 9                      # run to EOL
    # delta from (row 1, x 0) to (row 2, x 1); skipped cells stay 0
    expect[2, 1:5] = 1
    w, h, gray = decode_image(hdr(8, 3, 8, 1, 256, pal8) + rle)
    assert (w, h) == (8, 3)
    assert np.allclose(gray, gray_of(pal8, expect[::-1]))  # bottom-up flip

    # truncated RLE (no end-of-bitmap) raises
    with _pytest.raises(ValueError, match="truncated|bounds"):
        decode_image(hdr(8, 3, 8, 1, 256, pal8) + bytes([3, 7]))


def test_pnm_sub255_maxval_rescales():
    """Round-5 review regression: the [0,255] gray contract applies to
    EVERY PNM maxval — an 8-bit P5 with maxval=100 rescales so white is
    255.0, matching the 16-bit branch (it was passed through raw)."""
    import numpy as np

    from french_admin_etl_spark.operators.multimodal import decode_image

    px = bytes([0, 25, 50, 100])
    w, h, gray = decode_image(b"P5\n2 2\n100\n" + px)
    assert (w, h) == (2, 2)
    assert np.allclose(gray, np.array([[0.0, 63.75], [127.5, 255.0]]))
    # maxval=255 stays an exact passthrough
    _, _, g255 = decode_image(b"P5\n2 2\n255\n" + px)
    assert np.array_equal(g255, np.array([[0.0, 25.0], [50.0, 100.0]]))


def test_bmp_rle4_decode():
    """BI_RLE4 (compression 2, 4-bit palette): runs alternate the two
    nibbles of the value byte (high first, odd runs end on the high
    nibble); absolute mode packs nibbles high-first and pads the SOURCE
    to an even byte count; delta/EOL/EOB escapes shared with RLE8."""
    import numpy as np
    import pytest as _pytest

    from french_admin_etl_spark.operators.multimodal import decode_image

    rng = np.random.RandomState(13)
    pal = rng.randint(0, 256, (16, 4)).astype(np.uint8)

    def hdr(w, h):
        off = 14 + 40 + 16 * 4
        return (
            b"BM" + (off + 64).to_bytes(4, "little") + bytes(4)
            + off.to_bytes(4, "little")
            + (40).to_bytes(4, "little")
            + w.to_bytes(4, "little", signed=True)
            + h.to_bytes(4, "little", signed=True)
            + (1).to_bytes(2, "little") + (4).to_bytes(2, "little")
            + (2).to_bytes(4, "little")
            + bytes(12)
            + (16).to_bytes(4, "little")
            + bytes(4)
            + pal.tobytes()
        )

    # stored row 0: run(5, 0x7A) -> 7,10,7,10,7 | absolute(3: 5,6,2 in
    # 2 bytes, no pad) | run(1, 0x90) -> 9 | EOL
    rle = b"\x05\x7a" + b"\x00\x03\x56\x20" + b"\x01\x90" + b"\x00\x00"
    # stored row 1: absolute(5: 1,2,3,4,5 in 3 bytes + 1 pad byte) |
    # run(4, 0xCC) | EOL
    rle += b"\x00\x05\x12\x34\x50\x00" + b"\x04\xcc" + b"\x00\x00"
    # stored row 2: run(2, 0x3B) | delta +2,+0 | run(3, 0x99) | EOB
    rle += b"\x02\x3b" + b"\x00\x02\x02\x00" + b"\x03\x99" + b"\x00\x01"

    expect = np.zeros((3, 9), np.uint8)
    expect[0] = [7, 10, 7, 10, 7, 5, 6, 2, 9]
    expect[1] = [1, 2, 3, 4, 5, 12, 12, 12, 12]
    expect[2, 0:2] = [3, 11]
    expect[2, 4:7] = 9

    w, h, gray = decode_image(hdr(9, 3) + rle)
    assert (w, h) == (9, 3)
    c = pal[expect[::-1]].astype(np.float64)  # stored rows are bottom-up
    want = 0.299 * c[:, :, 2] + 0.587 * c[:, :, 1] + 0.114 * c[:, :, 0]
    assert np.allclose(gray, want)

    # truncated stream (no EOB) raises; over-long run raises
    with _pytest.raises(ValueError, match="truncated|bounds"):
        decode_image(hdr(9, 3) + b"\x05\x7a")
    with _pytest.raises(ValueError, match="run out of bounds"):
        decode_image(hdr(9, 3) + b"\x0c\x7a" + b"\x00\x01")
    # RLE4 with bpp 8 is a contradiction -> NotImplementedError seam
    bad = bytearray(hdr(9, 3) + rle)
    bad[28] = 8
    with _pytest.raises(NotImplementedError, match="compression=2"):
        decode_image(bytes(bad))


def test_bmp_dimension_bomb_capped_before_allocation():
    """A crafted BMP RLE header with huge dimensions must be rejected by
    the 268 Mpx cap BEFORE the index plane is allocated (same posture as
    the TIFF/TGA caps) — the RLE paths size np.zeros((h, w)) from header
    fields alone, so without the cap a 60-byte payload requests
    terabytes."""
    import pytest

    from french_admin_etl_spark.operators.multimodal import decode_image

    def hdr(w, h, bpp, compression):
        off = 14 + 40 + (1 << bpp) * 4
        return (
            b"BM" + (off + 8).to_bytes(4, "little") + bytes(4)
            + off.to_bytes(4, "little")
            + (40).to_bytes(4, "little")
            + w.to_bytes(4, "little", signed=True)
            + h.to_bytes(4, "little", signed=True)
            + (1).to_bytes(2, "little") + bpp.to_bytes(2, "little")
            + compression.to_bytes(4, "little")
            + bytes(12) + (1 << bpp).to_bytes(4, "little") + bytes(4)
            + bytes(4 * (1 << bpp))  # palette
            + b"\x00\x01" * 4  # RLE stream (never reached)
        )

    for w, h in ((1 << 20, 1 << 20), (65535, 65535)):
        with pytest.raises(ValueError, match="exceed the decoder cap"):
            decode_image(hdr(w, h, 8, 1))
    with pytest.raises(ValueError, match="exceed the decoder cap"):
        decode_image(hdr(0, 4, 8, 1))  # zero-width is degenerate too


def test_gif_png_dimension_bombs_capped():
    """Review findings: GIF dims are 16-bit (4.29 Gpx expressible) and
    PNG dims 32-bit — both paths must reject past the shared 268 Mpx cap
    BEFORE allocating, and a PNG IDAT inflating past the header's raw
    size must be rejected (bounded decompressobj, like TIFF)."""
    import struct
    import zlib

    import pytest

    from french_admin_etl_spark.operators.multimodal import decode_image

    # GIF: 65535x65535 header, tiny LZW stream
    gif = (
        b"GIF89a" + (65535).to_bytes(2, "little") * 2 + b"\xf0\x00\x00"
        + bytes(6)  # 2-entry global color table
        + b"\x2c" + bytes(4) + (65535).to_bytes(2, "little") * 2 + b"\x00"
        + b"\x02\x01\x00\x00"  # min code size 2, 1-byte sub-block, term
        + b"\x3b"
    )
    with pytest.raises(ValueError, match="exceed the decoder cap"):
        decode_image(gif)

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    # PNG: 2^16 x 2^16 header
    big = struct.pack(">IIBBBBB", 1 << 16, 1 << 16, 8, 0, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", big)
        + chunk(b"IDAT", zlib.compress(b"\x00" * 64)) + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="exceed the decoder cap"):
        decode_image(png)

    # PNG: sane dims but an IDAT that inflates past the raw size
    small = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
    bomb = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", small)
        + chunk(b"IDAT", zlib.compress(b"\x00" * 100000))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="inflates past"):
        decode_image(bomb)


def test_pivot_seqless_null_write_wins(spark):
    """Review finding: without seq_col, a matching row whose value is
    NULL must still win the cell (same null semantic as the seq mode's
    max_by) — bare last(ignorenulls=True) silently resurrected the
    previous non-null write."""
    from french_admin_etl_spark.operators.pivot import pivot_last_write_wins

    df = spark.createDataFrame(
        [("g", "a", "x"), ("g", "a", None)], "grp string, p string, v string"
    ).coalesce(1)
    out = pivot_last_write_wins(df, ["grp"], "p", ["a"], "v").collect()[0]
    assert out["a"] is None


def test_ansi_poison_rows_zero_norm_short_vector_emoji(spark):
    """Review findings (all three reproduced as job-killers under Spark
    4's default ANSI mode before the fix): a zero-norm embedding scores
    NULL instead of raising DIVIDE_BY_ZERO; an embedding shorter than
    the bucket width hashes its missing components as bit 0 instead of
    raising INVALID_ARRAY_INDEX; an emoji codepoint in the CDC window
    hash computes in 64-bit instead of raising ARITHMETIC_OVERFLOW."""
    import numpy as np
    from pyspark.sql import functions as F

    from french_admin_etl_spark.operators.similarity import (
        cosine,
        cosine_topk,
        sign_bucket,
    )
    from french_admin_etl_spark.operators.textdedup import content_defined_chunks

    corpus = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.8, 0.6])],
        "vec_id long, embedding array<float>",
    )
    query = spark.createDataFrame([(9, [1.0, 0.0])], "q_id long, q_emb array<float>")
    got = cosine_topk(corpus, query, k=3).collect()
    by_id = {r["vec_id"]: r["cos_sim"] for r in got}
    # zero-norm: NULL score, never a crash, and never ranked into the top-k
    assert 1 not in by_id
    assert abs(by_id[2] - 1.0) < 1e-9
    assert got[0]["vec_id"] == 2

    short = spark.createDataFrame(
        [(1, [1.0]), (2, [-1.0]), (3, [])], "id long, v array<float>"
    )
    bks = {
        r["id"]: r["b"]
        for r in short.select("id", sign_bucket("v", 8).alias("b")).collect()
    }
    assert bks == {1: 1, 2: 0, 3: 0}  # missing components = bit 0

    emoji_doc = "shared prefix text \U0001F600\U0001F680 tail " * 4
    docs = spark.createDataFrame(
        [(1, emoji_doc), (2, emoji_doc + " variant")], "doc_id long, text string"
    )
    chunks = content_defined_chunks(docs, "doc_id", "text").collect()
    assert len(chunks) >= 2
    # chunks reassemble each doc exactly (boundary math held in 64-bit)
    by_doc: dict = {}
    for r in sorted(chunks, key=lambda r: (r["doc_id"], r["chunk_idx"])):
        by_doc.setdefault(r["doc_id"], []).append(r["chunk"])
    assert "".join(by_doc[1]) == emoji_doc
    assert "".join(by_doc[2]) == emoji_doc + " variant"
