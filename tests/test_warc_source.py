"""WARC source tests: hand-built archives (plain + per-record gzip
members), file-parallel Spark scan, per-record error isolation (S9),
payload truncation bound, and the documents-table bridge."""

import gzip
import os

import pytest
from pyspark.sql import functions as F

from french_admin_etl_spark.sources.warc_source import (
    parse_warc_bytes,
    read_warc,
    warc_documents,
)


def _record(warc_type, headers, body: bytes) -> bytes:
    hdr = [f"WARC/1.0"]
    hdr += [f"{k}: {v}" for k, v in headers.items()]
    hdr += [f"Content-Length: {len(body)}"]
    head = ("\r\n".join(hdr) + "\r\n\r\n").encode()
    return head + body + b"\r\n\r\n"


def _http_response(status, ctype, body: bytes) -> bytes:
    return (
        f"HTTP/1.1 {status} X\r\nContent-Type: {ctype}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode() + body


def _sample_warc() -> bytes:
    recs = [
        _record(
            "warcinfo",
            {"WARC-Type": "warcinfo", "WARC-Record-ID": "<urn:uuid:0>",
             "WARC-Date": "2026-08-20T00:00:00Z",
             "Content-Type": "application/warc-fields"},
            b"software: test\r\n",
        ),
        _record(
            "request",
            {"WARC-Type": "request", "WARC-Record-ID": "<urn:uuid:1>",
             "WARC-Date": "2026-08-20T00:00:01Z",
             "WARC-Target-URI": "http://example.org/a",
             "Content-Type": "application/http; msgtype=request"},
            b"GET /a HTTP/1.1\r\nHost: example.org\r\n\r\n",
        ),
        _record(
            "response",
            {"WARC-Type": "response", "WARC-Record-ID": "<urn:uuid:2>",
             "WARC-Date": "2026-08-20T00:00:01Z",
             "WARC-Target-URI": "http://example.org/a",
             "Content-Type": "application/http; msgtype=response"},
            _http_response(200, "text/html; charset=utf-8", b"<html>doc A</html>"),
        ),
        _record(
            "response",
            {"WARC-Type": "response", "WARC-Record-ID": "<urn:uuid:3>",
             "WARC-Date": "2026-08-20T00:00:02Z",
             "WARC-Target-URI": "http://example.org/b.png",
             "Content-Type": "application/http; msgtype=response"},
            _http_response(200, "image/png", b"\x89PNG fake"),
        ),
        _record(
            "response",
            {"WARC-Type": "response", "WARC-Record-ID": "<urn:uuid:4>",
             "WARC-Date": "2026-08-20T00:00:03Z",
             "WARC-Target-URI": "http://example.org/gone",
             "Content-Type": "application/http; msgtype=response"},
            _http_response(404, "text/html", b"not here"),
        ),
    ]
    return b"".join(recs)


def test_parse_plain_and_gzip_members():
    plain = _sample_warc()
    rows = list(parse_warc_bytes(plain, "f.warc"))
    assert [r["warc_type"] for r in rows] == [
        "warcinfo", "request", "response", "response", "response"
    ]
    assert all(r["error"] is None for r in rows)
    resp = rows[2]
    assert resp["http_status"] == 200
    assert resp["http_content_type"] == "text/html; charset=utf-8"
    assert resp["payload"] == b"<html>doc A</html>"
    assert resp["target_uri"] == "http://example.org/a"
    assert rows[4]["http_status"] == 404
    # record_offset points at each record's WARC/ marker in the plain stream
    for r in rows:
        assert plain[r["record_offset"] :].startswith(b"WARC/1.0")

    # the standard .warc.gz layout: one gzip member PER RECORD
    recs = plain.split(b"\r\n\r\nWARC/1.0")
    parts = [recs[0] + b"\r\n\r\n"] + [
        b"WARC/1.0" + p + (b"\r\n\r\n" if not p.endswith(b"\r\n\r\n") else b"")
        for p in recs[1:]
    ]
    gz = b"".join(gzip.compress(p) for p in parts)
    grows = list(parse_warc_bytes(gz, "f.warc.gz"))
    assert [r["warc_record_id"] for r in grows] == [r["warc_record_id"] for r in rows]
    assert grows[2]["payload"] == b"<html>doc A</html>"


def test_parse_error_isolation_and_truncation():
    plain = _sample_warc()
    # chop the last record's body: earlier records still come through,
    # the broken one comes back as ONE errored row (S9 contract)
    rows = list(parse_warc_bytes(plain[:-30], "cut.warc"))
    assert len(rows) == 5
    assert [r["error"] for r in rows[:4]] == [None] * 4
    assert "truncated" in rows[4]["error"]
    # not WARC at all → a single errored row carrying the path
    bad = list(parse_warc_bytes(b"PK\x03\x04 not a warc", "zip.warc"))
    assert len(bad) == 1 and "bad record marker" in bad[0]["error"]
    # corrupt gzip → one errored row
    badgz = list(parse_warc_bytes(b"\x1f\x8b" + b"\x00" * 20, "x.warc.gz"))
    assert len(badgz) == 1 and badgz[0]["error"].startswith("gzip:")
    # payload bound: limit 8 → truncated flag, 8 bytes kept, length intact
    lim = list(parse_warc_bytes(plain, "f.warc", payload_limit=8))
    resp = [r for r in lim if r.get("warc_record_id") == "<urn:uuid:2>"][0]
    assert resp["truncated"] is True and resp["payload"] == b"<html>do"


def test_read_warc_spark_scan(spark, tmp_path):
    d = tmp_path / "warcs"
    d.mkdir()
    plain = _sample_warc()
    (d / "seg-0.warc").write_bytes(plain)
    (d / "seg-1.warc.gz").write_bytes(gzip.compress(plain))
    (d / "seg-2.warc").write_bytes(b"garbage, not a warc")

    df = read_warc(spark, str(d))
    rows = df.collect()
    ok = [r for r in rows if r.error is None]
    errs = [r for r in rows if r.error is not None]
    assert len(ok) == 10 and len(errs) == 1  # 5 records × 2 files + 1 S9 row
    assert os.path.basename(errs[0].source_file.replace("file:", "")) == "seg-2.warc"
    # the plan stays file-parallel: binaryFile scan → one Arrow-batched
    # python stage, no shuffle anywhere
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan  # Arrow path, not per-row pickling

    # glob filter prunes at the listing, not post-scan
    only_gz = read_warc(spark, str(d), path_glob="*.warc.gz").collect()
    assert {os.path.basename(r.source_file) for r in only_gz} == {"seg-1.warc.gz"}


def test_warc_documents_bridge(spark, tmp_path):
    d = tmp_path / "warcs2"
    d.mkdir()
    # raw crawl segment + a Common-Crawl-style WET extract segment
    # (conversion records: extracted text IS the body, no HTTP envelope)
    wet = _record(
        "conversion",
        {"WARC-Type": "conversion", "WARC-Record-ID": "<urn:uuid:9>",
         "WARC-Date": "2026-08-20T00:00:05Z",
         "WARC-Target-URI": "http://example.org/a",
         "Content-Type": "text/plain"},
        b"doc A extracted text",
    )
    (d / "seg-0.warc").write_bytes(_sample_warc() + wet)
    docs = {r.doc_id: r for r in warc_documents(spark, str(d)).collect()}
    # the 200 text/html response AND the WET conversion record survive:
    # warcinfo/request dropped, image content-type dropped, 404 dropped
    assert set(docs) == {"<urn:uuid:2>", "<urn:uuid:9>"}
    doc = docs["<urn:uuid:2>"]
    assert doc.url == "http://example.org/a"
    assert doc.content == "<html>doc A</html>"
    assert doc.truncated is False
    assert docs["<urn:uuid:9>"].content == "doc A extracted text"
    # and it feeds the existing text operators directly
    from french_admin_etl_spark.functions.text import quality_features

    feats = (
        spark.createDataFrame([docs["<urn:uuid:2>"]])
        .select("doc_id", *[c.alias(k) for k, c in quality_features("content").items()])
        .collect()
    )
    assert len(feats) == 1 and feats[0].doc_id == "<urn:uuid:2>"


def test_gzip_member_prefix_salvage():
    """Round-5 session-6 review finding: a corrupt/truncated LATER gzip
    member must not discard records from intact earlier members — the
    parser streams member-by-member, so the valid prefix is already out
    (matching plain-WARC per-record isolation)."""
    plain = _sample_warc()
    recs = plain.split(b"\r\n\r\nWARC/1.0")
    parts = [recs[0] + b"\r\n\r\n"] + [
        b"WARC/1.0" + p + (b"\r\n\r\n" if not p.endswith(b"\r\n\r\n") else b"")
        for p in recs[1:]
    ]
    members = [gzip.compress(p) for p in parts]
    # truncate the FINAL member mid-stream
    gz = b"".join(members[:-1]) + members[-1][: len(members[-1]) // 2]
    rows = list(parse_warc_bytes(gz, "cut.warc.gz"))
    good = [r for r in rows if r.get("error") is None]
    errs = [r for r in rows if r.get("error") is not None]
    assert [r["warc_record_id"] for r in good] == [
        "<urn:uuid:0>", "<urn:uuid:1>", "<urn:uuid:2>", "<urn:uuid:3>"
    ]
    assert len(errs) == 1 and "gzip" in errs[0]["error"]


def test_http_transfer_and_content_encoding():
    """Review finding: crawl WARCs store raw network bytes — chunked and
    gzip/deflate HTTP bodies must decode (or dead-letter that record),
    never flow into `content` as mojibake."""
    text = b"<html>encoded doc</html>"
    # chunked + gzip together (gzip applied first on the wire, chunked
    # wraps it; decoding order is chunked -> gunzip)
    gz_body = gzip.compress(text)
    chunks = b"".join(
        b"%x\r\n%s\r\n" % (len(c), c)
        for c in (gz_body[:7], gz_body[7:])
    ) + b"0\r\n\r\n"
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Transfer-Encoding: chunked\r\nContent-Encoding: gzip\r\n\r\n"
    ) + chunks
    rec = _record(
        "response",
        {"WARC-Type": "response", "WARC-Record-ID": "<urn:uuid:enc>",
         "WARC-Target-URI": "http://example.org/enc",
         "WARC-Date": "2026-08-20T00:00:06Z",
         "Content-Type": "application/http; msgtype=response"},
        http,
    )
    rows = list(parse_warc_bytes(rec, "enc.warc"))
    assert len(rows) == 1 and rows[0]["error"] is None
    assert rows[0]["payload"] == text

    # zlib-wrapped deflate
    import zlib as _z

    http2 = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
        b"Content-Encoding: deflate\r\n\r\n"
    ) + _z.compress(b"plain deflate doc")
    rec2 = _record(
        "response",
        {"WARC-Type": "response", "WARC-Record-ID": "<urn:uuid:df>",
         "WARC-Target-URI": "http://example.org/df",
         "Content-Type": "application/http"},
        http2,
    )
    rows2 = list(parse_warc_bytes(rec2, "df.warc"))
    assert rows2[0]["error"] is None
    assert rows2[0]["payload"] == b"plain deflate doc"

    # corrupt gzip body → THAT record dead-letters, the next one survives
    http3 = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Content-Encoding: gzip\r\n\r\n"
    ) + b"\x1f\x8bgarbage"
    rec3 = _record(
        "response",
        {"WARC-Type": "response", "WARC-Record-ID": "<urn:uuid:bad>",
         "WARC-Target-URI": "http://example.org/bad",
         "Content-Type": "application/http"},
        http3,
    )
    rows3 = list(parse_warc_bytes(rec3 + rec2, "mix.warc"))
    assert len(rows3) == 2
    assert "http body decode" in rows3[0]["error"]
    assert rows3[1]["error"] is None and rows3[1]["payload"] == b"plain deflate doc"


def test_warc_documents_excludes_undecodable_bodies(spark, tmp_path):
    """An encoded body that fails to decode must NOT become document
    content (the error.isNull filter catches the per-record dead-letter)."""
    d = tmp_path / "warcs3"
    d.mkdir()
    bad_http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        b"Content-Encoding: br\r\n\r\n"
    ) + b"\x00brotli-we-dont-decode"
    rec = _record(
        "response",
        {"WARC-Type": "response", "WARC-Record-ID": "<urn:uuid:br>",
         "WARC-Target-URI": "http://example.org/br",
         "Content-Type": "application/http"},
        bad_http,
    )
    (d / "seg.warc").write_bytes(_sample_warc() + rec)
    docs = warc_documents(spark, str(d)).collect()
    assert {r.doc_id for r in docs} == {"<urn:uuid:2>"}


def test_truncated_and_multimember_http_bodies():
    """Review findings: (1) a TRUNCATED gzip/deflate body decompresses to
    a partial prefix with no exception — it must dead-letter, not flow on
    as content with error=None; (2) multi-member gzip bodies (legal —
    servers concatenate) must decode ALL members, not silently drop
    everything after the first; (3) a chunked body whose chunk terminator
    is not CRLF must dead-letter, not resynchronize on garbage."""
    import zlib as _z

    def _resp(headers: bytes, body: bytes, uid: str):
        return _record(
            "response",
            {"WARC-Type": "response", "WARC-Record-ID": f"<urn:uuid:{uid}>",
             "WARC-Target-URI": f"http://example.org/{uid}",
             "Content-Type": "application/http"},
            b"HTTP/1.1 200 OK\r\n" + headers + b"\r\n" + body,
        )

    # truncated gzip: cut mid-stream — zlib yields a prefix, eof=False
    gz = gzip.compress(b"x" * 4096)
    rows = list(parse_warc_bytes(
        _resp(b"Content-Encoding: gzip\r\n", gz[: len(gz) // 2], "tg"), "t.warc"
    ))
    assert rows[0]["error"] is not None and "truncated" in rows[0]["error"]

    # truncated zlib-deflate
    df = _z.compress(b"y" * 4096)
    rows = list(parse_warc_bytes(
        _resp(b"Content-Encoding: deflate\r\n", df[: len(df) // 2], "td"), "t.warc"
    ))
    assert rows[0]["error"] is not None and "truncated" in rows[0]["error"]

    # multi-member gzip: both members decode, concatenated
    two = gzip.compress(b"first ") + gzip.compress(b"second")
    rows = list(parse_warc_bytes(
        _resp(b"Content-Encoding: gzip\r\n", two, "mm"), "t.warc"
    ))
    assert rows[0]["error"] is None and rows[0]["payload"] == b"first second"

    # chunked body with garbage where the chunk CRLF terminator belongs
    bad = b"5\r\nHELLOXY6\r\nWORLD!\r\n0\r\n\r\n"
    rows = list(parse_warc_bytes(
        _resp(b"Transfer-Encoding: chunked\r\n", bad, "ck"), "t.warc"
    ))
    assert rows[0]["error"] is not None and "terminator" in rows[0]["error"]


def test_gzip_chunks_windowed_input_members_straddle_windows():
    """Review finding: feeding the whole remaining buffer per decompress
    call made zlib re-copy the full tail into unconsumed_tail per output
    chunk — O(archive^2) memcpy. The windowed rewrite must still decode
    members exactly, including members far smaller AND far larger than
    one input window, member boundaries mid-window, and trailing
    truncation."""
    import gzip as _gzip

    import numpy as np
    import pytest as _pytest

    from french_admin_etl_spark.sources.warc_source import _gzip_chunks

    rng = np.random.default_rng(3)
    parts = [
        rng.integers(0, 256, 37, dtype=np.uint8).tobytes(),        # tiny
        rng.integers(0, 256, 300_000, dtype=np.uint8).tobytes(),   # >> window
        b"",                                                        # empty member
        rng.integers(0, 256, 5_000, dtype=np.uint8).tobytes(),
    ]
    archive = b"".join(_gzip.compress(p) for p in parts)
    # window far smaller than the archive exercises every straddle path
    got = b"".join(_gzip_chunks(archive, chunk=1000))
    assert got == b"".join(parts)
    # default window too
    assert b"".join(_gzip_chunks(archive)) == b"".join(parts)

    with _pytest.raises(ValueError, match="truncated gzip member"):
        list(_gzip_chunks(archive[:-7], chunk=1000))


def test_gzip_chunks_corrupt_member_raises_value_error():
    """A corrupt, non-truncated member after a valid one makes zlib raise
    ``zlib.error``; the documented contract is ``ValueError``, with the
    valid member's output yielded before the raise. The valid member
    decodes to more than one output chunk and ends mid-window, the state
    in which zlib repeats the bytes after it in both ``unconsumed_tail``
    and ``unused_data``: a following member must still start exactly
    once."""
    import gzip as _gzip

    import pytest as _pytest

    from french_admin_etl_spark.sources.warc_source import _gzip_chunks

    good = b"intact member " * 50
    nxt = b"next member"
    assert b"".join(_gzip_chunks(_gzip.compress(good) + _gzip.compress(nxt), chunk=64)) == (
        good + nxt
    )
    archive = _gzip.compress(good) + b"\x00not a gzip member at all" * 8
    out = []
    with _pytest.raises(ValueError, match="corrupt gzip member"):
        for piece in _gzip_chunks(archive, chunk=64):
            out.append(piece)
    assert b"".join(out) == good


def test_http_gzip_cap_exact_boundary_not_unlimited(monkeypatch):
    """Review finding: when decoded output reached EXACTLY the cap,
    max_length=0 was passed to zlib — which means UNLIMITED — so a
    follow-on bomb member decompressed without bound."""
    import gzip as _gzip

    from french_admin_etl_spark.sources import warc_source as ws

    monkeypatch.setattr(ws, "_HTTP_BODY_CAP", 100)
    first = _gzip.compress(b"x" * 100)  # decodes to exactly the cap
    bomb = _gzip.compress(b"\x00" * 50_000)
    body = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
        b"Content-Encoding: gzip\r\n\r\n" + first + bomb
    )
    status, ctype, payload, err = ws._parse_http_payload(body)
    assert status == 200
    assert err is not None and "decode cap" in err


def test_dechunk_rejects_non_hex_and_negative_sizes():
    """Review finding (reproduced): int(size_tok, 16) accepted '-2',
    which skipped backward and decoded a malformed chunked body
    'successfully' with silently dropped content."""
    import pytest as _pytest

    from french_admin_etl_spark.sources.warc_source import _dechunk

    assert _dechunk(b"3\r\nabc\r\n0\r\n\r\n") == b"abc"
    # (surrounding whitespace is stripped before validation — that
    # leniency predates this fix and is harmless; signs/underscores are
    # the resync hazard)
    for bad in (b"-2", b"+3", b"1_0", b""):
        with _pytest.raises(ValueError, match="malformed chunk size"):
            _dechunk(b"3\r\nabc\r\n" + bad + b"\r\n0\r\n\r\n")


def test_warc_documents_content_type_case_insensitive(spark, tmp_path):
    """Review finding: media types compare case-insensitively (RFC 9110)
    — 'Text/HTML' responses were silently dropped from the bridge."""
    rec = _record(
        "response",
        {"WARC-Type": "response", "WARC-Record-ID": "<urn:uuid:cc>",
         "WARC-Date": "2026-08-20T00:00:09Z",
         "WARC-Target-URI": "http://example.org/cased",
         "Content-Type": "application/http; msgtype=response"},
        _http_response(200, "Text/HTML; charset=UTF-8", b"<html>cased</html>"),
    )
    p = tmp_path / "cased.warc"
    p.write_bytes(rec)
    from french_admin_etl_spark.sources.warc_source import warc_documents

    rows = warc_documents(spark, str(p)).collect()
    assert len(rows) == 1 and rows[0]["content"] == "<html>cased</html>"
