"""WARC (ISO 28500) web-archive source — the container 100-TB text
corpora actually arrive in (Common-Crawl-style layouts: many ~1 GiB
``.warc.gz`` segments).

Spark-first shape: ``spark.read.format("binaryFile")`` gives one row per
archive file, and an Arrow ``mapInPandas`` batch parser (the engine's U3
batch-transform seam — never per-row Python in a driver loop) explodes
each file into one row per WARC record. Gzipped WARCs are per-record (or
whole-file) gzip MEMBER streams and therefore NOT byte-splittable — the
unit of parallelism is the FILE, which is the right 100-TB posture
anyway: crawl corpora ship as 10^4-10^5 independent segment files, so
file-level parallelism saturates a 1000-executor cluster while each task
holds exactly one segment (bounded memory, no shuffle; the scan is
embarrassingly parallel). Beyond the raw file bytes the binaryFile scan
already holds, everything is streamed and bounded: gzip decompresses in
1 MiB chunks (member-by-member OR one whole-file member — neither
materializes the decompressed archive), the record parser compacts
consumed bytes so its buffer stays O(one record), and output rows flush
to Arrow in 512-record frames.

Per-record error isolation follows the engine's S9 contract (row-level
dead-letter, the batch survives — the same drop-on-error posture as
``operators/validate.py``): a malformed record yields a row with
``error`` set instead of failing the file (framing errors stop that
file — WARC has no resync point — but records already parsed stand,
including those from gzip members before a corrupt one); a file that
isn't WARC at all yields a single errored row carrying its path. HTTP
bodies are transfer/content-decoded (chunked, gzip, deflate) so encoded
text never reaches the text operators as mojibake; a body that fails to
decode dead-letters only its own record.

Payloads are truncated at ``payload_limit`` bytes with a ``truncated``
flag — an unbounded crawl response (multi-GiB video bodies exist in real
crawls) must not be able to blow a task's Arrow batch.

Reference: the reference engine's extractors normalize remote CSV/JSON
payloads into typed rows (``internal/extractors/*.go``); this source is
the same extract-normalize contract applied to the web-archive container
format, which the reference does not cover — it belongs to the
training-data extension surface.
"""

from __future__ import annotations

import zlib
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

WARC_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("source_file", T.StringType()),
        T.StructField("record_offset", T.LongType()),  # byte offset (plain)
        T.StructField("warc_type", T.StringType()),
        T.StructField("warc_record_id", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("target_uri", T.StringType()),
        T.StructField("warc_content_type", T.StringType()),
        T.StructField("content_length", T.LongType()),
        T.StructField("http_status", T.IntegerType()),
        T.StructField("http_content_type", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("truncated", T.BooleanType()),
        T.StructField("error", T.StringType()),
    ]
)


def _gzip_chunks(data: bytes, chunk: int = 1 << 20) -> Iterator[bytes]:
    """Stream-decompress a (possibly multi-member) gzip buffer in
    bounded ``chunk``-sized pieces — per-record members are the standard
    ``.warc.gz`` layout, but a whole-file single member must ALSO stay
    bounded, so decompression never materializes the full archive.
    Raises ValueError on a truncated/corrupt member; everything yielded
    before the raise came from intact members and stands.

    INPUT is fed in bounded windows too (review finding, measured):
    feeding the whole remaining buffer per call made zlib copy the full
    remaining tail into ``unconsumed_tail`` on every output chunk —
    total memcpy QUADRATIC in archive size (tens of TB of copying for a
    1 GiB archive). With ≤ ``chunk``-sized input windows the tail copy
    is bounded and total work is O(archive)."""
    view = memoryview(data)
    n = len(data)
    pos = 0  # next unfed input offset
    pending = b""  # fed-but-unconsumed input (always < chunk window)
    while pending or pos < n:
        d = zlib.decompressobj(wbits=31)
        fed = len(pending)  # input bytes handed to this member so far
        while True:
            if not pending:
                if pos >= n:
                    raise ValueError("truncated gzip member in WARC")
                pending = bytes(view[pos : pos + chunk])
                pos += len(pending)
                fed += len(pending)
            try:
                piece = d.decompress(pending, chunk)
            except zlib.error as e:
                raise ValueError(f"corrupt gzip member in WARC: {e}") from e
            pending = d.unconsumed_tail
            if piece:
                yield piece
            if d.eof:
                break
        # post-member bytes within the fed window start the next member.
        # At eof they are all in unused_data; unconsumed_tail may repeat
        # them when an earlier call hit the output cap, and flush() would
        # append that tail to unused_data again — so read it first
        pending = d.unused_data
        if fed - len(pending) <= 0:
            raise ValueError("gzip member consumed no input")
        tail = d.flush()
        if tail:
            yield tail


def _dechunk(body: bytes) -> bytes:
    """Undo HTTP/1.1 chunked transfer encoding (RFC 9112 §7.1)."""
    out = bytearray()
    pos = 0
    while True:
        nl = body.find(b"\r\n", pos)
        if nl < 0:
            raise ValueError("chunked body: missing size line")
        size_tok = body[pos:nl].split(b";", 1)[0].strip()
        # strict hex only: int(x, 16) also accepts '+', '-', '_' and
        # unicode digits — a NEGATIVE size skipped backward over the size
        # line and decoded a malformed body "successfully" with silently
        # dropped content instead of dead-lettering (review finding,
        # reproduced with b'-2')
        if not size_tok or any(c not in b"0123456789abcdefABCDEF" for c in size_tok):
            raise ValueError("chunked body: malformed chunk size")
        size = int(size_tok, 16)
        pos = nl + 2
        if size == 0:
            return bytes(out)  # trailers (if any) are ignored
        if pos + size > len(body):
            raise ValueError("chunked body: chunk overruns payload")
        out += body[pos : pos + size]
        if body[pos + size : pos + size + 2] != b"\r\n":
            # RFC 9112 §7.1 requires the CRLF terminator; skipping two
            # arbitrary bytes instead can resynchronize on garbage and
            # emit silently corrupted payloads (review finding) — raise
            # so the record dead-letters like any other malformed body
            raise ValueError("chunked body: missing chunk terminator")
        pos += size + 2  # chunk data + CRLF


_HTTP_BODY_CAP = 256 << 20  # decoded-entity bound per record


def _parse_http_payload(body: bytes):
    """Split an application/http payload into (status, content-type,
    entity body, error). Undoes Transfer-Encoding: chunked and
    Content-Encoding: gzip/deflate — crawl WARCs store raw network
    bytes, and an encoded body flowing into the text operators as
    'content' would be silent mojibake. A body that fails to decode
    comes back with ``error`` set (S9: the record dead-letters, the
    file survives). Returns (None, None, body, None) when the payload
    isn't HTTP at all."""
    if not body.startswith(b"HTTP/"):
        return None, None, body, None
    head_end = body.find(b"\r\n\r\n")
    if head_end < 0:
        return None, None, body, None
    head = body[:head_end].decode("latin-1", "replace").split("\r\n")
    try:
        status = int(head[0].split(None, 2)[1])
    except (IndexError, ValueError):
        return None, None, body, None
    hdrs: dict[str, str] = {}
    for line in head[1:]:
        k, sep, v = line.partition(":")
        if sep:
            hdrs[k.strip().lower()] = v.strip()
    ctype = hdrs.get("content-type")
    payload = body[head_end + 4 :]
    try:
        if "chunked" in hdrs.get("transfer-encoding", "").lower():
            payload = _dechunk(payload)
        cenc = hdrs.get("content-encoding", "").lower()
        if cenc in ("gzip", "x-gzip"):
            # member loop + explicit eof check: a TRUNCATED gzip body
            # decompresses to a partial (often empty) prefix with no
            # exception — without the eof probe it flowed on as content
            # with error=None (review finding, verified empirically);
            # multi-member bodies (legal, servers concatenate) previously
            # dropped everything past the first member via unused_data
            out = bytearray()
            data = payload
            while data:
                d = zlib.decompressobj(wbits=31)
                remaining = _HTTP_BODY_CAP - len(out)
                if remaining <= 0:
                    # guard BEFORE the call: max_length=0 means UNLIMITED
                    # to zlib, so a body whose earlier members decoded to
                    # exactly the cap would decompress a follow-on bomb
                    # member without bound (review finding, verified)
                    raise ValueError("gzip body exceeds the decode cap")
                out += d.decompress(data, remaining)
                if d.unconsumed_tail:
                    raise ValueError("gzip body exceeds the decode cap")
                if not d.eof:
                    raise ValueError("truncated gzip body")
                data = d.unused_data.lstrip(b"\x00")  # trailing pad bytes
            payload = bytes(out)
        elif cenc == "deflate":
            try:
                d = zlib.decompressobj(wbits=15)  # zlib-wrapped (common)
                payload = d.decompress(payload, _HTTP_BODY_CAP)
            except zlib.error:
                d = zlib.decompressobj(wbits=-15)  # raw-deflate servers
                payload = d.decompress(payload, _HTTP_BODY_CAP)
            if d.unconsumed_tail:
                raise ValueError("deflate body exceeds the decode cap")
            if not d.eof:
                raise ValueError("truncated deflate body")
        elif cenc not in ("", "identity"):
            raise ValueError(f"unsupported Content-Encoding {cenc}")
    except Exception as exc:  # noqa: BLE001 — per-record dead-letter
        return status, ctype, payload, f"http body decode: {exc}"
    return status, ctype, payload, None


class _IncrementalWarcParser:
    """Incremental WARC framing over streamed byte chunks: records are
    emitted as soon as their header block AND Content-Length bytes are
    buffered, and consumed bytes are compacted away — so peak memory is
    O(largest single record), not O(archive). A framing error emits one
    errored row and poisons the parser (WARC framing is sequential —
    after a broken Content-Length there is no resync point); records
    emitted before the error stand."""

    def __init__(self, source_file: str, payload_limit: int):
        self.buf = bytearray()
        self.base = 0  # plain-stream offset of buf[0]
        self.pos = 0
        self.source_file = source_file
        self.payload_limit = payload_limit
        self.dead = False

    def _err(self, offset, msg) -> dict:
        self.dead = True
        return {
            "source_file": self.source_file,
            "record_offset": offset,
            "error": msg,
        }

    def feed(self, chunk: bytes, eof: bool = False):
        if self.dead:
            return
        self.buf += chunk
        buf = self.buf
        while True:
            # skip inter-record blank lines (two CRLFs terminate the
            # prior record; tolerate extras from sloppy writers)
            while buf[self.pos : self.pos + 2] == b"\r\n":
                self.pos += 2
            while buf[self.pos : self.pos + 1] == b"\n":
                self.pos += 1
            if self.pos >= len(buf):
                break  # clean boundary; wait for more (or EOF)
            offset = self.base + self.pos
            # fail fast on a non-WARC marker as soon as the first line is
            # decidable — without this a non-WARC payload with no blank
            # line would buffer the whole stream waiting for a header
            # block that never comes
            probe = bytes(buf[self.pos : self.pos + 5])
            if (len(probe) == 5 or eof) and not b"WARC/".startswith(probe):
                nl = buf.find(b"\n", self.pos)
                first = bytes(
                    buf[self.pos : nl if 0 <= nl <= self.pos + 20 else self.pos + 20]
                )
                yield self._err(
                    offset, f"bad record marker {first.decode('latin-1')!r}"
                )
                return
            # need the complete header block before parsing anything
            he_crlf = buf.find(b"\r\n\r\n", self.pos)
            he_lf = buf.find(b"\n\n", self.pos)
            cands = [x for x in (he_crlf, he_lf) if x >= 0]
            if not cands:
                if eof:
                    yield self._err(offset, "EOF inside WARC header block")
                break
            he = min(cands)
            sep = 4 if he == he_crlf else 2
            head = bytes(buf[self.pos : he]).decode("latin-1", "replace")
            lines = head.splitlines()
            if not lines or not lines[0].startswith("WARC/"):
                marker = lines[0][:20] if lines else ""
                yield self._err(offset, f"bad record marker {marker!r}")
                return
            headers = {}
            for hl in lines[1:]:
                k, s, v = hl.partition(":")
                if s:
                    headers[k.strip().lower()] = v.strip()
            try:
                clen = int(headers["content-length"])
                if clen < 0:
                    raise ValueError
            except (KeyError, ValueError):
                yield self._err(offset, "missing/bad Content-Length")
                return
            body_at = he + sep
            if body_at + clen > len(buf):
                if eof:
                    got = len(buf) - body_at
                    yield self._err(
                        offset, f"record body truncated ({got}/{clen})"
                    )
                break  # wait for more chunks
            body = bytes(buf[body_at : body_at + clen])
            self.pos = body_at + clen
            ctype = headers.get("content-type")
            status = http_ctype = None
            payload, perr = body, None
            if ctype and ctype.split(";")[0].strip() == "application/http":
                status, http_ctype, payload, perr = _parse_http_payload(body)
            yield {
                "source_file": self.source_file,
                "record_offset": offset,
                "warc_type": headers.get("warc-type"),
                "warc_record_id": headers.get("warc-record-id"),
                "warc_date": headers.get("warc-date"),
                "target_uri": headers.get("warc-target-uri"),
                "warc_content_type": ctype,
                "content_length": clen,
                "http_status": status,
                "http_content_type": http_ctype,
                "payload": payload[: self.payload_limit],
                "truncated": len(payload) > self.payload_limit,
                "error": perr,
            }
        # compact consumed bytes so buffered state stays O(one record)
        if self.pos:
            del buf[: self.pos]
            self.base += self.pos
            self.pos = 0


def parse_warc_bytes(
    data: bytes, source_file: str = "", payload_limit: int = 1 << 20
) -> Iterator[dict]:
    """Stream records out of one WARC file's bytes (plain or .warc.gz).
    Yields plain dicts in WARC_RECORD_SCHEMA field order. Gzip archives
    decompress member-by-member in bounded chunks, so a corrupt or
    truncated member costs only the records at and after it — everything
    from intact earlier members is already out (per-record isolation,
    matching the plain-WARC behavior). Framing errors yield one errored
    row and stop the file (no resync point after a broken
    Content-Length); an HTTP body that fails transfer/content decoding
    dead-letters only its own record."""
    parser = _IncrementalWarcParser(source_file, payload_limit)
    if data[:2] == b"\x1f\x8b":
        try:
            for piece in _gzip_chunks(data):
                yield from parser.feed(piece)
        except Exception as exc:  # noqa: BLE001 — one errored row; rows
            # from intact earlier members were already yielded
            if not parser.dead:
                yield parser._err(parser.base + parser.pos, f"gzip: {exc}")
            return
        yield from parser.feed(b"", eof=True)
    else:
        yield from parser.feed(data, eof=True)


def read_warc(
    spark: SparkSession,
    path: str,
    payload_limit: int = 1 << 20,
    path_glob: str | None = None,
) -> DataFrame:
    """One row per WARC record across every archive under ``path``.

    The plan is binaryFile scan → ArrowEvalPython(mapInPandas): file-
    parallel, shuffle-free, payloads bounded at ``payload_limit``."""
    import pandas as pd

    fields = [f.name for f in WARC_RECORD_SCHEMA.fields]

    def parse_files(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for path_v, content in zip(pdf["path"], pdf["content"]):
                for rec in parse_warc_bytes(
                    bytes(content), str(path_v), payload_limit
                ):
                    rows.append([rec.get(f) for f in fields])
                    if len(rows) >= 512:
                        # bound the output frame too: a 1 GiB segment is
                        # ~10^5 records × up to payload_limit bytes — one
                        # giant DataFrame would triple peak task memory
                        yield pd.DataFrame(rows, columns=fields)
                        rows = []
            yield pd.DataFrame(rows, columns=fields)

    reader = spark.read.format("binaryFile")
    if path_glob:
        reader = reader.option("pathGlobFilter", path_glob)
    files = reader.load(path).select("path", "content")
    return files.mapInPandas(parse_files, schema=WARC_RECORD_SCHEMA)


def warc_documents(
    spark: SparkSession,
    path: str,
    payload_limit: int = 1 << 20,
    text_types: tuple = ("text/html", "text/plain"),
) -> DataFrame:
    """The bridge into the training-data pipeline: text records projected
    to the engine's documents-table shape (doc_id, url, fetched_at,
    content) — feed it to the dedup / quality / language operators
    directly. Two record shapes qualify:

    - ``response`` records whose HTTP payload is a 200 with a text
      content-type (raw crawl ``.warc.gz``);
    - ``conversion`` records with a text WARC content-type — the
      Common-Crawl WET layout, where the extracted plain text IS the
      record body (no HTTP envelope).

    Everything below stays JVM-side Column expressions on the
    already-parsed scan."""
    from pyspark.sql import functions as F

    recs = read_warc(spark, path, payload_limit=payload_limit)
    # media types compare case-insensitively (RFC 9110 §8.3.1): real
    # crawl servers emit 'Text/HTML' etc., which a case-sensitive isin
    # silently dropped from the corpus (review finding)
    wanted = [t.lower() for t in text_types]
    http_base = F.lower(F.trim(F.split(F.col("http_content_type"), ";").getItem(0)))
    warc_base = F.lower(F.trim(F.split(F.col("warc_content_type"), ";").getItem(0)))
    is_http_text = (
        (F.col("warc_type") == "response")
        & (F.col("http_status") == 200)
        & http_base.isin(*wanted)
    )
    is_wet_text = (F.col("warc_type") == "conversion") & warc_base.isin(*wanted)
    return (
        recs.where(F.col("error").isNull())
        .where(is_http_text | is_wet_text)
        .select(
            F.col("warc_record_id").alias("doc_id"),
            F.col("target_uri").alias("url"),
            F.col("warc_date").alias("fetched_at"),
            F.col("payload").cast("string").alias("content"),
            F.col("truncated"),
        )
    )
