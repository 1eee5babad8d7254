"""WARC ingestion — crawl stage zero.

A production 100-TB text pipeline does not start from HTML sitting in
a parquet column; it starts from WARC files (ISO 28500 / WARC 1.1 —
the Web ARChive format; Common Crawl publishes ~90k of them per crawl,
~1 GB each). This module is a stdlib-only WARC codec plus the Spark
stage that turns a directory of ``*.warc[.gz]`` files into the
(url, warc_type, http_status, payload) relation every downstream
operator in this repo consumes (`warc_html_docs` → c15 link rank).

Format facts the reader relies on (all from the public spec):

- A WARC file is a sequence of records. Each record is::

      WARC/1.0<CRLF>
      Header-Name: value<CRLF>      (names case-insensitive; a line
      ...                            starting with SP/HT continues the
      <CRLF>                         previous header's value — LWS fold)
      <Content-Length bytes of payload>
      <CRLF><CRLF>                  (two-CRLF record trailer)

- ``Content-Length`` is MANDATORY and is the ONLY record delimiter:
  payloads routinely contain ``CRLF CRLF`` and even ``WARC/1.0``
  (an HTML page quoting a WARC example must not desync the walk), so
  scanning for separators instead of honoring Content-Length is wrong
  and the fixture in queries.py plants exactly that trap.
- Compressed WARC files hold ONE GZIP MEMBER PER RECORD, concatenated
  (the Common Crawl layout). That is what makes a .warc.gz seekable:
  a reader positioned at any member boundary can start cleanly, which
  is the property a splittable cluster input format would exploit.
- ``WARC-Type: response`` records carry a full HTTP response message
  (status line + headers + body) as payload
  (``Content-Type: application/http; msgtype=response``); request /
  warcinfo / metadata records carry other payloads and must be
  filtered by WARC-Type, not guessed from the payload.

Spark shape (and the honest 100-TB note): batch reads mount through
the registered ``warc`` Python Data Source
(`sources/warc_datasource.py`) — `read_warc` is the splitting-off
wrapper: ONE task per WARC file, parallelism = file count. For Common
Crawl that is the standard unit (90k 1-GB files >> any cluster's core
count), so per-file tasks saturate 1000 executors without mid-file
splitting; executors open files directly via pyarrow.fs and stream
the chunked member walk, so per-task memory is one output batch + one
in-flight record + one decompression chunk — neither the compressed
nor the decompressed file is ever materialized whole.

When file sizes dwarf file counts (a corpus re-packed into few huge
WARCs), `read_warc_split` — the same source with an explicit
``split_bytes`` — fans ONE file across byte-range input partitions by
scanning for validated gzip member boundaries mid-stream — possible
only because of the member-per-record layout fact above.
"""

from __future__ import annotations

import gzip
import io
import re
import zlib
from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

CRLF = b"\r\n"

#: a CR/LF in a header VALUE that is not the spec's LWS fold
#: (CRLF followed by SP/HT) — the writer rejects these (injection)
_CRLF_INJECT = re.compile(r"\r\n(?![ \t])|\r(?!\n)|(?<!\r)\n")

#: a legal header field NAME: an RFC-style token (printable ASCII,
#: no separators) — the writer rejects anything else (injection)
_FIELD_NAME = re.compile(r"[!#$%&'*+\-.^_`|~0-9A-Za-z]+")

#: the relation `read_warc` emits — one row per WARC record
WARC_SCHEMA = StructType(
    [
        StructField("warc_file", StringType()),
        StructField("record_index", LongType()),
        StructField("warc_type", StringType()),
        StructField("target_uri", StringType()),
        StructField("warc_date", StringType()),
        StructField("record_id", StringType()),
        StructField("content_type", StringType()),
        StructField("content_length", LongType()),
        StructField("http_status", LongType()),
        StructField("http_content_type", StringType()),
        # every named field of the record, lowercased — the generic
        # channel for header rules the typed columns don't cover
        # (WARC-Refers-To, WARC-Payload-Digest, WARC-Profile, ...)
        StructField("headers", MapType(StringType(), StringType())),
        StructField("body", BinaryType()),
    ]
)


# ---------------------------------------------------------------------------
# Encoder (fixture builder / general writer)
# ---------------------------------------------------------------------------


def warc_record(
    warc_type: str,
    headers: dict[str, str],
    payload: bytes,
    version: str = "WARC/1.0",
) -> bytes:
    """Serialize one uncompressed WARC record. ``headers`` should carry
    the named fields (WARC-Target-URI etc.); WARC-Type and
    Content-Length are set here (Content-Length always from the actual
    payload — the spec's one hard delimiter must never be hand-set)."""
    out = [version.encode("ascii"), CRLF]
    out += [b"WARC-Type: ", warc_type.encode("ascii"), CRLF]
    for k, v in headers.items():
        if k.lower() in ("warc-type", "content-length"):
            raise ValueError(f"{k} is managed by warc_record")
        # names too, not just values (review catch: an attacker-
        # influenced header NAME like "X-A: x\r\nWARC-Target-URI"
        # bypasses a value-only guard): a field name is a token —
        # no separators, no whitespace, no control bytes
        if not _FIELD_NAME.fullmatch(k):
            raise ValueError(
                f"illegal header field name {k[:60]!r} "
                "(names are tokens: no colon/whitespace/CTLs)"
            )
        # header-injection guard: a CR/LF in a value (e.g. an encoded
        # newline in a crawl URL reaching the writer) would forge
        # headers or desync the record walk. Only the spec's LWS fold
        # (CRLF followed by SP/HT) may cross a line.
        if _CRLF_INJECT.search(v):
            raise ValueError(
                f"header value for {k} contains a bare CR/LF "
                "(only 'CRLF SP/HT' continuation folds are legal): "
                f"{v[:60]!r}"
            )
        out += [k.encode("ascii"), b": ",
                v.encode("ascii", "strict"), CRLF]
    out += [b"Content-Length: ", str(len(payload)).encode("ascii"), CRLF]
    out += [CRLF, payload, CRLF, CRLF]
    return b"".join(out)


def http_response(
    status: int,
    reason: str = "OK",
    headers: dict[str, str] | None = None,
    body: bytes = b"",
) -> bytes:
    """An HTTP/1.1 response message — the payload of a WARC ``response``
    record."""
    out = [f"HTTP/1.1 {status} {reason}".encode("ascii"), CRLF]
    for k, v in (headers or {}).items():
        out += [k.encode("ascii"), b": ", v.encode("ascii"), CRLF]
    out += [b"Content-Length: ", str(len(body)).encode("ascii"), CRLF,
            CRLF, body]
    return b"".join(out)


def http_request(method: str, path: str, host: str) -> bytes:
    """An HTTP/1.1 request message — the payload of a ``request``
    record (crawlers archive these next to responses; readers must
    filter them out by WARC-Type)."""
    return (
        f"{method} {path} HTTP/1.1\r\nHost: {host}\r\n\r\n".encode("ascii")
    )


def gzip_member(record: bytes) -> bytes:
    """One record compressed as its own gzip member (mtime pinned to 0
    so fixture bytes are deterministic)."""
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
        gz.write(record)
    return buf.getvalue()


def write_warc(path: str, records: Iterable[bytes],
               compress: bool = True) -> int:
    """Write records to ``path`` — one gzip member per record when
    ``compress`` (the Common Crawl layout), plain concatenation
    otherwise. Returns the record count."""
    n = 0
    with open(path, "wb") as f:
        for rec in records:
            f.write(gzip_member(rec) if compress else rec)
            n += 1
    return n


# ---------------------------------------------------------------------------
# Decoder (stdlib record walk)
# ---------------------------------------------------------------------------


#: decompressobj feed unit — bounds every copy the member walk makes
#: (each chunk is decompressed once; `unused_data` carry-over is at
#: most one chunk), so the walk is O(file bytes) total memcpy no
#: matter how many members the file holds
_CHUNK = 1 << 20


#: a gzip member starts with magic 1f 8b + CM=8 (deflate) — the scan
#: anchor for split resync and lenient error recovery
_GZ_MAGIC = b"\x1f\x8b\x08"


def _members_from_file(f, start: int, end: int,
                       lenient: bool = False,
                       errlog: list | None = None,
                       ) -> Iterator[tuple[int, int, bytes]]:
    """Decompress a multi-member gzip stream from a seekable binary
    file object, yielding ``(member_start, member_end, member_bytes)``
    (compressed-offset extent — ``raw[start:end]`` is a standalone
    decodable gzip member) for every member whose START lies in
    ``[start, end)`` — a member that begins before ``end`` is decoded
    to completion even when its bytes run past ``end`` (the input-split
    contract: the task owning a member's first byte owns the whole
    member).

    zlib.decompressobj(47) stops at each member's end and exposes the
    not-yet-consumed tail as ``unused_data`` — the stdlib seam that
    matches the one-member-per-record Common Crawl layout
    (gzip.decompress would fuse all members into one blob, losing the
    boundary structure).

    The chunked feed is load-bearing for scale: the naive form
    (``d.decompress(raw[pos:])`` per member) copies the entire
    remaining tail for EVERY member — O(members × file_bytes) memcpy,
    measured superlinear (4× members → 6.3× wall) and ruinous at the
    Common Crawl unit of ~1 GB files with tens of thousands of
    members. Feeding ≤ _CHUNK bytes at a time makes ``unused_data``
    (the only copy that crosses a member boundary) at most one chunk,
    so total work is linear in file bytes + members
    (pinned by tests/test_warc.py::test_member_walk_is_linear).

    ``lenient``: a torn/corrupt member is logged to ``errlog`` as
    ``(offset, message)`` and the walk resyncs at the next validated
    member boundary (`_scan_member_start`) instead of raising —
    real crawl dumps contain occasional junk and one bad member must
    not kill a 100-TB job when the caller opts in. Strict (default)
    fails loudly."""
    f.seek(start)
    pending: bytes = b""  # compressed bytes handed back by unused_data
    off = start  # absolute offset of pending[0] / next read position
    while off < end:
        while not pending:  # refill between members
            chunk = f.read(_CHUNK)
            if not chunk:
                return
            pending = chunk
        member_start = off
        d = zlib.decompressobj(47)  # 47 = auto-detect gzip wrapper
        parts = []
        try:
            while not d.eof:
                if not pending:
                    chunk = f.read(_CHUNK)
                    if not chunk:
                        raise ValueError(
                            "truncated gzip member — a torn tail must "
                            "fail loudly, not yield a silent partial "
                            "record"
                        )
                    pending = chunk
                fed = len(pending)
                parts.append(d.decompress(pending))
                # past-the-member bytes (≤ one chunk) open the next
                # member; off tracks the absolute offset of pending[0]
                pending = d.unused_data
                off += fed - len(pending)
        except (ValueError, zlib.error) as exc:
            if not lenient:
                raise ValueError(
                    f"{exc} (gzip member at byte {member_start})"
                ) from exc
            if errlog is not None:
                errlog.append((member_start, f"gzip: {exc}"))
            nxt = _scan_member_start(f, member_start + 1, end)
            if nxt < 0:
                return
            f.seek(nxt)
            pending, off = b"", nxt
            continue
        yield member_start, off, b"".join(parts)


def _scan_member_start(f, pos: int, end: int) -> int:
    """Find the next VALIDATED gzip member start at offset >= ``pos``
    (< ``end``): scan for the 1f8b08 magic, then confirm by
    decompressing a probe and checking the plaintext opens with
    ``WARC/`` — payload bytes can contain the magic by chance (1 in
    2^24 per position), and a WARC member must begin with a version
    line, so the probe disambiguates. Returns -1 when no boundary
    exists. This is the seam both the split reader (enter a file
    mid-stream) and lenient error recovery (skip a torn member) use."""
    window_base = pos
    carry = b""
    while window_base < end:
        f.seek(window_base)
        window = f.read(_CHUNK)
        if not window:
            return -1
        buf = carry + window
        base = window_base - len(carry)
        at = 0
        while True:
            hit = buf.find(_GZ_MAGIC, at)
            if hit < 0 or base + hit >= end:
                break
            cand = base + hit
            if _probe_member(f, cand):
                return cand
            at = hit + 1
        carry = buf[-(len(_GZ_MAGIC) - 1):]
        window_base = base + len(buf)
    return -1


def _probe_member(f, pos: int, probe_bytes: int = 1 << 16) -> bool:
    """True when a gzip member starting at ``pos`` decompresses cleanly
    to a FULL ``WARC/`` version-line prefix (a shorter partial prefix
    is rejected — a member whose whole plaintext is 'W' is not a
    record).

    Honesty note (review-verified limitation): the probe is local
    evidence, and local evidence cannot distinguish a true member
    boundary from a gzip member embedded VERBATIM inside a record's
    payload — which arises when a crawl archives another ``.warc.gz``
    and the OUTER member uses stored/level-0 deflate blocks, leaving
    the inner bytes verbatim. A split task resyncing inside such a
    payload would emit the inner records as phantom rows (the outer
    record itself is still decoded, by the task owning its member —
    nothing is ever LOST). Normally-compressed archives (Common Crawl
    is level 6+) cannot carry verbatim inner members, so the exposure
    is level-0/adversarial inputs; for corpora that may embed
    archives, `read_warc` (whole-file, immune) is the correct reader,
    and `read_warc_split`'s docstring states the same."""
    f.seek(pos)
    d = zlib.decompressobj(47)
    try:
        out = d.decompress(f.read(probe_bytes), 8)
    except zlib.error:
        return False
    return out[:5] == b"WARC/"


def _iter_gzip_members(raw: bytes) -> Iterator[bytes]:
    """Member-by-member decompression of an in-memory gzip stream —
    the file walk over a BytesIO view (one bounded-chunk copy per
    byte, same contract)."""
    return (
        m for _, _, m in _members_from_file(io.BytesIO(raw), 0, len(raw))
    )


def _parse_headers(block: bytes) -> dict[str, str]:
    """Named fields of one header block: names lowercased (the spec
    says field names are case-insensitive), LWS continuation lines
    folded into the previous value with a single space, and REPEATED
    fields comma-joined in order of appearance — WARC
    (WARC-Concurrent-To) and HTTP (Set-Cookie) both allow repeats, so
    last-value-wins would silently under-report the record."""
    headers: dict[str, str] = {}
    last: str | None = None
    for line in block.split(CRLF):
        if not line:
            continue
        if line[:1] in (b" ", b"\t"):
            if last is None:
                raise ValueError("continuation line before any header")
            headers[last] += " " + line.strip().decode(
                "utf-8", "replace"
            )
            continue
        name, sep, value = line.partition(b":")
        if not sep:
            raise ValueError(f"malformed header line: {line[:80]!r}")
        last = name.strip().decode("ascii").lower()
        val = value.strip().decode("utf-8", "replace")
        headers[last] = (
            headers[last] + ", " + val if last in headers else val
        )
    return headers


#: sentinel: the buffer holds a record prefix — feed more stream bytes
_NEED_MORE = object()


def _try_parse_record(buf: bytearray, pos: int, base: int,
                      at_eof: bool):
    """Parse ONE record from ``buf[pos:]``. Returns
    (headers, body, end_pos) on success, ``None`` on clean stream end,
    `_NEED_MORE` when the buffer holds only a record prefix and more
    stream bytes could complete it. Conditions that more bytes cannot
    fix (bad version line, malformed header, missing Content-Length)
    raise immediately; prefix conditions raise only ``at_eof``.
    ``base`` offsets the byte positions in error messages; callers
    pass 0 (buffer-relative) and attach the member's absolute
    compressed offset when re-raising (`_parse_records`)."""
    n = len(buf)
    # tolerate inter-record padding CRLFs (some writers emit extra)
    while buf[pos:pos + 2] == CRLF:
        pos += 2
    if pos >= n:
        return None if at_eof else _NEED_MORE
    eol = buf.find(CRLF, pos)
    if eol < 0:
        if not at_eof and n - pos < 128:  # a version line is short
            return _NEED_MORE
        raise ValueError("missing record version line")
    if not buf[pos:pos + 5] == b"WARC/":
        raise ValueError(
            f"expected WARC version line at byte {base + pos}, "
            f"got {bytes(buf[pos:eol][:40])!r}"
        )
    head_end = buf.find(CRLF + CRLF, eol)
    if head_end < 0:
        if at_eof:
            raise ValueError("unterminated header block")
        return _NEED_MORE
    headers = _parse_headers(bytes(buf[eol + 2:head_end]))
    try:
        length = int(headers["content-length"])
    except KeyError:
        raise ValueError(
            "record without Content-Length — the mandatory "
            "delimiter (ISO 28500 §5.3); refusing to guess"
        ) from None
    body_start = head_end + 4
    body_end = body_start + length
    if body_end > n:
        if at_eof:
            raise ValueError(
                f"record at byte {base + pos} declares {length} "
                f"payload bytes but only {n - body_start} remain"
            )
        return _NEED_MORE
    return headers, bytes(buf[body_start:body_end]), body_end


def _parse_records(
    members: Iterable[tuple[int, int, bytes]],
    lenient: bool = False,
    errlog: list | None = None,
) -> Iterator[tuple[int, int, int, dict[str, str], bytes]]:
    """THE record-walk core: Content-Length-driven parse over a stream
    of ``(start, end, plaintext)`` members (compressed extents),
    yielding ``(member_start, member_end, ordinal_in_member, headers,
    payload)`` — ``raw[member_start:member_end]`` decodes standalone.
    Buffered
    incrementally — the working buffer holds at most one record plus
    one member (consumed bytes are compacted after every record), so
    memory is bounded by the largest single record, never the
    decompressed file. Records may span member boundaries (the buffer
    reassembles them); a record is attributed to the member in which
    it COMPLETED (identical under the one-record-per-member layout).

    ``lenient``: a parse error quarantines to ``errlog`` as
    ``(member_offset, message)``, drops only the working buffer's
    unparsed tail, and the walk resumes at the next member — records
    already yielded are never retracted. Strict raises."""
    buf = bytearray()
    cur_off = 0
    cur_end = 0
    k = 0
    at_eof = False
    it = iter(members)
    while True:
        try:
            while True:
                got = _try_parse_record(buf, 0, 0, at_eof)
                if got is _NEED_MORE:
                    break
                if got is None:
                    return
                headers, body, endp = got
                yield cur_off, cur_end, k, headers, body
                k += 1
                del buf[:endp]
        except ValueError as exc:
            if not lenient:
                # byte positions inside the message are buffer-relative
                # (the working buffer compacts); the member's absolute
                # COMPRESSED offset is the locator a 1-GB crawl file
                # needs, so attach it here (review catch)
                raise ValueError(
                    f"{exc} (record in gzip member at compressed "
                    f"byte {cur_off})"
                ) from exc
            errlog.append(
                (cur_off, f"record: {exc} (member at byte {cur_off})")
            )
            buf.clear()
        if at_eof:
            return
        nxt = next(it, None)
        if nxt is None:
            at_eof = True
            continue
        cur_off, cur_end, member = nxt
        k = 0
        buf += member


def iter_warc_records(raw: bytes, lenient: bool = False,
                      errlog: list | None = None,
                      ) -> Iterator[tuple[dict[str, str], bytes]]:
    """Walk a WARC byte stream (gzipped multi-member or plain), yielding
    (headers, payload) per record. The walk is Content-Length-driven:
    version line, header block to the first empty line, exactly
    Content-Length payload bytes, then the two-CRLF trailer — payload
    bytes are never inspected for delimiters. Gzipped input streams
    member by member through the chunked walk (`_members_from_file`)
    and records parse incrementally — the decompressed stream is never
    materialized whole.

    ``lenient=True`` quarantines unparseable records/members into
    ``errlog`` (``(offset, message)`` tuples, appended BEFORE the next
    yielded record) and resyncs at the next gzip member boundary
    instead of raising (a plain uncompressed stream has no boundary to
    resync at, so its remainder quarantines as one entry) — opt-in,
    for real crawl dumps containing junk. Strict (the default) fails
    loudly on the first malformation."""
    if errlog is None:
        errlog = []
    if bytes(raw[:2]) == b"\x1f\x8b":
        members = _members_from_file(io.BytesIO(raw), 0, len(raw),
                                     lenient=lenient, errlog=errlog)
    else:
        members = iter([(0, len(raw), raw)])
    return (
        (h, b)
        for _, _, _, h, b in _parse_records(members, lenient, errlog)
    )


def parse_http_response(payload: bytes) -> tuple[int, dict[str, str], bytes]:
    """(status, headers, body) of an HTTP response message. Header
    names lowercased; body is everything after the blank line (HTTP
    Content-Length, when present, is trusted only as far as the bytes
    actually archived — crawlers truncate)."""
    sep = payload.find(CRLF + CRLF)
    if sep < 0:
        head, body = payload, b""
    else:
        head, body = payload[:sep], payload[sep + 4:]
    lines = head.split(CRLF)
    status_line = lines[0].decode("ascii", "replace")
    parts = status_line.split(None, 2)
    if len(parts) < 2 or not parts[0].startswith("HTTP/"):
        raise ValueError(f"not an HTTP response: {status_line[:60]!r}")
    status = int(parts[1])
    headers = _parse_headers(CRLF.join(lines[1:]))
    return status, headers, body


# ---------------------------------------------------------------------------
# The Spark stage
# ---------------------------------------------------------------------------


def read_warc(spark: SparkSession, path: str,
              pattern: str = "*.warc*",
              errors: str = "strict") -> DataFrame:
    """Mount a directory of WARC files as the WARC_SCHEMA relation —
    one row per record; ``response`` records get http_status /
    http_content_type / body from the parsed HTTP message, other types
    carry their raw payload in ``body`` with null HTTP fields.

    ``errors``: ``"strict"`` (default) fails the job on the first
    malformed record/member — the right stance for fixtures and
    trusted archives; ``"lenient"`` quarantines malformations as
    PARSE_ERROR_TYPE rows (error + offset in ``headers``) and resyncs
    at the next gzip member boundary — the right stance for real
    crawl dumps, where occasional junk must not kill a 100-TB job and
    the drop must still be countable from the output.

    Thin wrapper over the registered ``warc`` Python Data Source
    (`sources/warc_datasource.py`) with splitting OFF — one task per
    file, dense record_index, identical relation to every prior
    round's binaryFile build. Plan shape: ``BatchScan warc`` — the
    executors open files directly via pyarrow.fs and stream the
    chunked record walk (linear in file bytes regardless of member
    count) out in bounded Arrow batches, so per-task memory is one
    batch + one in-flight record + one decompression chunk — the
    whole COMPRESSED file is no longer materialized either (the old
    binaryFile mount held it JVM-side and copied it to Python), and
    binaryFile's 2 GB cap is gone.
    """
    _lenient(errors)  # validate eagerly, before any job runs
    from borsa_spark.sources import warc_datasource as WD

    WD.register(spark)
    return (
        spark.read.format("warc")
        .option("pattern", pattern)
        .option("errors", errors)
        .option("split_bytes", "never")
        .load(path)
    )


def _lenient(errors: str) -> bool:
    if errors not in ("strict", "lenient"):
        raise ValueError(f"errors must be strict|lenient, got {errors!r}")
    return errors == "lenient"


#: batch-yield bounds for the record walk: a batch closes at whichever
#: comes first. Caps per-task memory at ~_BATCH_BYTES of payload (plus
#: one in-flight record) instead of a whole decompressed file, and
#: keeps each Arrow batch far below Arrow's 2 GB column limit.
_BATCH_ROWS = 4096
_BATCH_BYTES = 64 << 20


def _record_row(path_, i, hdr, payload):
    """One WARC_SCHEMA row from a walked record."""
    wtype = hdr.get("warc-type", "")
    status, http_ct, body = None, None, payload
    if wtype == "response":
        try:
            s, hh, body = parse_http_response(payload)
            status = s
            http_ct = hh.get("content-type")
        except ValueError:
            # archived junk: keep the record visible with null HTTP
            # fields, never drop data silently at the ingest layer
            body = payload
    return {
        "warc_file": path_,
        "record_index": i,
        "warc_type": wtype,
        "target_uri": hdr.get("warc-target-uri"),
        "warc_date": hdr.get("warc-date"),
        "record_id": hdr.get("warc-record-id"),
        "content_type": hdr.get("content-type"),
        "content_length": int(hdr["content-length"]),
        "http_status": status,
        "http_content_type": http_ct,
        "headers": hdr,
        "body": body,
    }


#: warc_type of lenient-mode quarantine rows — explicit accounting in
#: the output relation (filter/count these; type-gated funnels like
#: `warc_html_docs` never match them)
PARSE_ERROR_TYPE = "__parse_error"


def _error_row(path_, i, off, msg):
    """Quarantine row for one lenient-mode parse failure: the error
    message and compressed byte offset ride in ``headers`` so the
    failure is attributable without re-reading the file."""
    return {
        "warc_file": path_,
        "record_index": i,
        "warc_type": PARSE_ERROR_TYPE,
        "target_uri": None,
        "warc_date": None,
        "record_id": None,
        "content_type": None,
        "content_length": None,
        "http_status": None,
        "http_content_type": None,
        "headers": {"error": msg, "offset": str(off)},
        "body": None,
    }


def _walk_batches(batches, lenient: bool = False):
    """The mapInPandas body of `read_warc_stream` (the batch readers
    moved onto the ``warc`` Data Source; the STREAMING path stays on
    Spark's native file stream source — see read_warc_stream's
    docstring — so this walker keeps serving it over binaryFile
    batches): records stream out in bounded batches
    (_BATCH_ROWS rows / _BATCH_BYTES payload bytes, whichever first) —
    a file larger than the bound yields several batches, an empty file
    yields one empty typed batch (so a zero-byte upload artifact
    cannot kill the scan). ``lenient`` turns malformed records/members
    into PARSE_ERROR_TYPE quarantine rows in stream order."""
    import pandas as pd

    cols = [f.name for f in WARC_SCHEMA.fields]
    for pdf in batches:
        for path_, content in zip(pdf["path"], pdf["content"]):
            rows: list[dict] = []
            nbytes = 0
            emitted = False
            i = 0
            errlog: list = []
            drained = 0

            def drain_errors():
                nonlocal i, drained
                while drained < len(errlog):
                    off, msg = errlog[drained]
                    rows.append(_error_row(path_, i, off, msg))
                    i += 1
                    drained += 1

            for hdr, payload in iter_warc_records(
                bytes(content), lenient=lenient, errlog=errlog
            ):
                drain_errors()  # errors precede the record after them
                rows.append(_record_row(path_, i, hdr, payload))
                i += 1
                nbytes += len(payload)
                if len(rows) >= _BATCH_ROWS or nbytes >= _BATCH_BYTES:
                    yield pd.DataFrame(rows, columns=cols)
                    emitted = True
                    rows, nbytes = [], 0
            drain_errors()
            if rows or not emitted:
                yield pd.DataFrame(rows, columns=cols)


# ---------------------------------------------------------------------------
# Splittable reader: one FILE fans out across tasks
# ---------------------------------------------------------------------------


def _list_files(path: str, pattern: str):
    """(filesystem, [(path, size)]) for files matching ``pattern``
    under ``path`` (or the single file ``path`` names), resolved via
    pyarrow.fs — local paths, and any scheme pyarrow's registry
    handles (hdfs://, s3://), use the same API on driver and
    executors (pyarrow filesystems pickle into task closures, unlike
    the JVM Hadoop gateway, which executors cannot reach)."""
    import fnmatch

    from pyarrow import fs as pafs

    try:
        filesystem, base = pafs.FileSystem.from_uri(path)
    except Exception:  # plain local path, no scheme
        filesystem, base = pafs.LocalFileSystem(), path
    info = filesystem.get_file_info(base)
    if info.type == pafs.FileType.File:
        return filesystem, [(info.path, info.size)]
    sel = pafs.FileSelector(base, recursive=False)
    out = [
        (i.path, i.size)
        for i in filesystem.get_file_info(sel)
        if i.type == pafs.FileType.File
        and fnmatch.fnmatch(i.base_name, pattern)
    ]
    return filesystem, sorted(out)


def _split_records(
    f, start: int, end: int, lenient: bool, errlog: list,
) -> Iterator[tuple[int, int, int, dict[str, str], bytes]]:
    """Records of one input split: members whose start offset lies in
    ``[start, end)``. A split entered mid-file resyncs to the first
    VALIDATED member boundary at >= start (`_scan_member_start`); a
    member straddling ``end`` is decoded to completion by the task
    owning its first byte — together the ranges partition the file's
    records exactly once."""
    if start > 0:
        start = _scan_member_start(f, start, end)
        if start < 0:  # no record starts inside this range
            return
    yield from _parse_records(
        _members_from_file(f, start, end, lenient=lenient,
                           errlog=errlog),
        lenient, errlog,
    )


def read_warc_split(spark: SparkSession, path: str,
                    split_bytes: int = 128 << 20,
                    pattern: str = "*.warc.gz",
                    errors: str = "strict") -> DataFrame:
    """`read_warc` for files that dwarf file counts: each ``.warc.gz``
    fans out across ceil(size / split_bytes) tasks via byte-range
    input splits — the documented upgrade path when a corpus arrives
    re-packed into few huge WARCs (and the clean answer to
    binaryFile's 2 GB cap), exploiting the property the module
    docstring records: one gzip member per record makes a .warc.gz
    enterable at any member boundary.

    Split protocol (the classic input-split rule, record = gzip
    member): a task owning ``[start, end)`` resyncs to the first
    VALIDATED member boundary at offset >= start — 1f8b08 magic +
    a decompression probe confirming the plaintext opens with a WARC
    version line, so magic bytes inside compressed payloads cannot
    fake a boundary — and decodes every member starting before
    ``end``, including one straddling ``end``. Ranges partition the
    file, so every record lands in exactly one task. Requires the
    member-per-record (Common Crawl) layout; `read_warc` remains the
    default one-task-per-file path and emits identical relations
    (modulo record_index, which here is ``member_offset + ordinal`` —
    a deterministic per-file ordering key independent of the split
    size, NOT the dense per-file ordinal `read_warc` emits. Uniqueness
    holds whenever a member's record count is below its compressed
    byte length — true for any real archive, a gzip member is ≥18
    bytes. Lenient quarantine rows key as ``-offset - 1``, a NEGATIVE
    index disjoint from every real record's non-negative key).

    Thin wrapper over the registered ``warc`` Python Data Source with
    an explicit ``split_bytes``: files larger than it fan into byte
    ranges, smaller ones stay whole-file (a 1-range split — identical
    records). Plan shape: ``BatchScan warc``, one input partition per
    range — the fan-out is the partition plan itself, so the old
    round-robin Exchange over a (path, start, end) relation is gone
    (zero shuffles); per-task memory is one batch + one in-flight
    record — split bytes stream from the open file and are never held
    whole.

    Lenient-mode caveat specific to splits: junk bytes sitting exactly
    in a split's ENTRY region are skipped by the resync scan without a
    quarantine row — a mid-file entry point cannot distinguish foreign
    junk from the tail of the previous task's member, which is skipped
    by design. Junk reached by a task's member WALK (after a decoded
    member) quarantines exactly as in `read_warc`.

    Known limitation (see `_probe_member`): an archive whose records
    EMBED another ``.warc.gz`` verbatim (possible only with
    stored/level-0 outer compression — normal deflate never leaves
    inner bytes verbatim) can fool a mid-payload resync into emitting
    the inner records as extra rows. Records are never lost (the
    outer member's owner decodes it whole); for such corpora use
    `read_warc`, which is immune."""
    _lenient(errors)  # validate eagerly, before any job runs
    if split_bytes < 1:
        raise ValueError(f"split_bytes must be >= 1, got {split_bytes}")
    from borsa_spark.sources import warc_datasource as WD

    WD.register(spark)
    return (
        spark.read.format("warc")
        .option("pattern", pattern)
        .option("errors", errors)
        .option("split_bytes", str(split_bytes))
        .load(path)
    )


def read_warc_stream(spark: SparkSession, path: str,
                     pattern: str = "*.warc*",
                     errors: str = "strict", **options) -> DataFrame:
    """`read_warc` as a Structured Streaming source: new WARC files
    landing in ``path`` stream through the same Arrow record walk —
    the continuous-crawl form of stage zero. The file stream source
    tracks processed files in the checkpoint, so each WARC file is
    ingested exactly once; compose with `warc_html_docs` and a
    `DedupIngest.attach`/foreachBatch admission gate for the full
    crawl→dedup-admission pipeline (driven end-to-end in
    tests/test_warc.py).

    Streaming facts the shape relies on: binaryFile is a FileFormat,
    so the file stream source accepts it with an explicit schema;
    ``maxFilesPerTrigger`` (a SOURCE option — pass it here via
    ``**options``, a sink-side option is silently ignored) bounds
    per-batch memory to N whole files, the same one-file-per-task
    unit as the batch reader.

    Why this stays on Spark's NATIVE file stream source while the
    batch readers moved to the ``warc`` Data Source: the Python
    streaming API exposes no admission control to
    ``Trigger.AvailableNow`` — Spark captures one ``latestOffset``
    snapshot and drains it as ONE batch (measured before shipping;
    a throttled latestOffset strands the backlog), so only the native
    source can honor the one-admission-batch-per-WARC-file pattern
    the dedup-ingest pipeline drills. ``readStream.format("warc")``
    exists too (snapshot-per-trigger semantics, executor-side reads —
    see `sources/warc_datasource.py`); this wrapper remains the entry
    point when per-file batch granularity matters."""
    from pyspark.sql.types import TimestampType

    schema = StructType([
        StructField("path", StringType()),
        StructField("modificationTime", TimestampType()),
        StructField("length", LongType()),
        StructField("content", BinaryType()),
    ])
    reader = (
        spark.readStream.format("binaryFile")
        .schema(schema)
        .option("pathGlobFilter", pattern)
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    lenient = _lenient(errors)
    files = reader.load(path).select("path", "content")
    # identical walk to read_warc: rebuild the mapInPandas over the
    # streaming relation (the UDF body is shared via _walk_batches)
    return files.mapInPandas(
        lambda it: _walk_batches(it, lenient=lenient), WARC_SCHEMA
    )


def write_warc_files(
    df: DataFrame,
    out_dir: str,
    record_fn,
    file_col: str = "__file",
    order_col: str | None = None,
    compress: bool = True,
) -> DataFrame:
    """Distributed WARC sink (and the fixture builder the c15
    oracle query drives): one ``part-<key>.warc.gz`` per distinct
    ``file_col`` value, records in ``order_col`` order within the file
    (deterministic bytes — fixtures must hash-stably regenerate),
    ``record_fn(row_dict) -> Iterable[bytes]`` producing each row's
    already-serialized records (`warc_record`). Returns the committed
    (warc_file, n_records) summary — an ACTION has already run when
    this returns, the files are on disk.

    Scale shape: groupBy(file_col) → applyInPandas writer, one task per
    output file; ``out_dir`` must be storage every executor can reach
    (local FS in local mode, a shared mount/object store on a cluster
    — same contract as every Spark file sink)."""
    import os

    import pandas as pd

    os.makedirs(out_dir, exist_ok=True)
    order = order_col or df.columns[0]

    ext = ".warc.gz" if compress else ".warc"  # extension tells truth

    def emit(key, pdf):
        pdf = pdf.sort_values(order)
        path = os.path.join(out_dir, f"part-{key[0]}{ext}")
        # to_dict("records"), not iterrows(): one bulk conversion per
        # group instead of a Series allocation per row — the encode
        # leg dominated the 500k-record sink wall (22.2 s vs 8.1 s
        # walk) under iterrows (review catch); bytes are identical
        n = write_warc(
            path,
            (rec for row in pdf.to_dict("records")
             for rec in record_fn(row)),
            compress=compress,
        )
        return pd.DataFrame(
            [{"warc_file": path, "n_records": n}]
        )

    out = df.groupBy(file_col).applyInPandas(
        emit, "warc_file string, n_records long"
    )
    # materialize: the sink must have RUN before callers read out_dir
    out = out.sparkSession.createDataFrame(out.collect(), out.schema)
    return out


def warc_html_docs(records: DataFrame,
                   min_status: int = 200,
                   max_status: int = 299,
                   extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """The crawl→text funnel head: keep ``response`` records with a 2xx
    status and an HTML content type, decode bodies as lenient UTF-8
    (WARC archives whatever the server sent; malformed bytes become
    replacement characters instead of killing the job — the C4/CCNet
    stance, see the cast comment below), and emit (url, html [, *extra_cols passed through]). Pure
    column expressions over the record relation — the
    type/status/content-type gates are the load-bearing header rules
    the record walk's tests plant traps for."""
    return (
        records.filter(
            (F.col("warc_type") == "response")
            & F.col("http_status").between(min_status, max_status)
            & F.lower(F.coalesce("http_content_type", F.lit("")))
            .startswith("text/html")
        )
        .select(
            F.col("target_uri").alias("url"),
            # cast, NOT F.decode: Spark 4's decode RAISES on malformed
            # bytes ([MALFORMED_CHARACTER_CODING]) and one garbage page
            # must not kill a 100-TB crawl job; binary->string cast
            # reinterprets bytes as UTF-8 leniently (malformed
            # sequences degrade to replacement characters), the
            # C4/CCNet stance — found by a round-11 review probe
            F.col("body").cast("string").alias("html"),
            *extra_cols,
        )
    )
