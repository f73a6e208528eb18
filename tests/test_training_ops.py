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
from french_admin_etl_spark.operators.multimodal import MEDIA_SCHEMA, media_metadata
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
