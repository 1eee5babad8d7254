"""WARC codec + Spark stage (sources/warc.py).

The pure-codec tests pin every spec rule the reader relies on
(Content-Length delimitation, header case/LWS folding, gzip member
boundaries, loud truncation); the Spark tests drive the real
binaryFile → mapInPandas relation and the html funnel over written
fixture files.
"""

from __future__ import annotations

import gzip
import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from borsa_spark.sources import warc as W


def _resp_record(url: str, body: bytes, status: int = 200,
                 ctype: str = "text/html", **hdrs) -> bytes:
    return W.warc_record(
        "response",
        {"WARC-Target-URI": url, "WARC-Date": "2026-01-01T00:00:00Z",
         "WARC-Record-ID": f"<urn:test:{url}>",
         "Content-Type": "application/http; msgtype=response", **hdrs},
        W.http_response(status, "X", {"Content-Type": ctype}, body),
    )


class TestCodecRoundTrip:
    def test_single_record(self):
        rec = _resp_record("http://a/1", b"<html>hi</html>")
        [(h, p)] = list(W.iter_warc_records(rec))
        assert h["warc-type"] == "response"
        assert h["warc-target-uri"] == "http://a/1"
        status, hh, body = W.parse_http_response(p)
        assert status == 200
        assert hh["content-type"] == "text/html"
        assert body == b"<html>hi</html>"

    def test_gzip_members_round_trip(self, tmp_path):
        recs = [_resp_record(f"http://a/{i}", f"b{i}".encode())
                for i in range(5)]
        path = str(tmp_path / "f.warc.gz")
        assert W.write_warc(path, recs) == 5
        raw = open(path, "rb").read()
        got = list(W.iter_warc_records(raw))
        assert [h["warc-target-uri"] for h, _ in got] == [
            f"http://a/{i}" for i in range(5)
        ]
        # the file is a concatenation of five INDEPENDENT gzip members —
        # the property that makes .warc.gz splittable at member bounds
        members = list(W._iter_gzip_members(raw))
        assert len(members) == 5
        assert b"".join(members) == b"".join(recs)

    def test_plain_uncompressed_stream(self, tmp_path):
        recs = [_resp_record("http://a/x", b"one"),
                _resp_record("http://a/y", b"two")]
        path = str(tmp_path / "f.warc")
        W.write_warc(path, recs, compress=False)
        got = list(W.iter_warc_records(open(path, "rb").read()))
        assert len(got) == 2

    # payloads containing every delimiter a naive scanner would trip on
    @given(st.binary(max_size=200))
    @settings(max_examples=50, deadline=None)
    def test_arbitrary_payload_bytes(self, body):
        rec = W.warc_record("resource", {"WARC-Target-URI": "http://p"},
                            body)
        [(h, p)] = list(W.iter_warc_records(rec))
        assert p == body

    def test_content_length_is_the_only_delimiter(self):
        # payload embeds a fake record boundary AND a fake version line;
        # a separator-scanning parser desyncs, a Content-Length walk
        # does not (this is the f96 fixture's trap, pinned standalone)
        trap = b"x\r\n\r\nWARC/1.0\r\nWARC-Type: response\r\n\r\ny"
        recs = [
            W.warc_record("resource", {"WARC-Target-URI": "http://t"},
                          trap),
            _resp_record("http://after", b"still-parsed"),
        ]
        got = list(W.iter_warc_records(b"".join(recs)))
        assert len(got) == 2
        assert got[0][1] == trap
        assert got[1][0]["warc-target-uri"] == "http://after"


class TestWalkScaling:
    """The member walk must be LINEAR in member count at fixed total
    bytes. The naive per-member form (`d.decompress(raw[pos:])` +
    `unused_data`) copies the whole remaining tail for EVERY member —
    O(members × file_bytes) memcpy, measured 4× members → 6.3× wall on
    the pre-round-12 code — and breaks at the ~1-GB/10k-member Common
    Crawl unit the module targets. Pinned here with incompressible
    payloads (compressible ones shrink the tail and hide the term)."""

    @staticmethod
    def _stream(n_members: int, payload_bytes: int) -> bytes:
        import random

        rng = random.Random(42)
        body = rng.randbytes(payload_bytes)
        rec = W.warc_record(
            "resource", {"WARC-Target-URI": "http://s"}, body
        )
        return W.gzip_member(rec) * n_members

    def test_member_walk_is_linear_in_member_count(self):
        # CPU time, not wall clock: the pin asserts algorithmic
        # complexity (memcpy volume), and process_time is immune to
        # the shared host's scheduling noise that flaked the first
        # wall-clock form inside a full-suite run
        import time

        def cpu(n, payload):
            raw = self._stream(n, payload)
            best = float("inf")
            for _ in range(3):
                t0 = time.process_time()
                count = sum(1 for _ in W.iter_warc_records(raw))
                best = min(best, time.process_time() - t0)
            assert count == n
            return best

        # same ~24 MB total, 4x the members: the quadratic form pays
        # ~4x CPU here (tail-copy term: members x file_bytes); the
        # chunked walk must stay ~flat — 3x + absolute slack separates
        # the two regimes with wide margin either side
        few = cpu(2_000, 12_000)
        many = cpu(8_000, 3_000)
        assert many < max(3.0 * few, few + 0.35), (
            f"member walk superlinear: 2k members {few:.3f}s vs "
            f"8k members {many:.3f}s CPU at equal total bytes"
        )

    def test_records_spanning_member_boundaries(self):
        # robustness beyond the Common Crawl one-record-per-member
        # layout: the incremental parser must reassemble a record whose
        # bytes straddle gzip members (and split mid-header)
        recs = b"".join(
            _resp_record(f"http://span/{i}", b"b" * 50) for i in range(7)
        )
        cut = len(recs) // 3
        raw = (W.gzip_member(recs[:11])          # mid-version-line
               + W.gzip_member(recs[11:cut])
               + W.gzip_member(recs[cut:cut + 1])  # 1-byte member
               + W.gzip_member(recs[cut + 1:]))
        got = list(W.iter_warc_records(raw))
        assert [h["warc-target-uri"] for h, _ in got] == [
            f"http://span/{i}" for i in range(7)
        ]

    def test_walk_batches_bounded_yields(self, monkeypatch):
        # a file larger than the batch bound must stream out in several
        # typed batches (never one per-file list), total rows exact
        import pandas as pd

        monkeypatch.setattr(W, "_BATCH_ROWS", 64)
        recs = [
            W.warc_record("resource",
                          {"WARC-Target-URI": f"http://m/{i}"},
                          str(i).encode())
            for i in range(200)
        ]
        pdf = pd.DataFrame(
            {"path": ["f.warc"], "content": [b"".join(recs)]}
        )
        out = list(W._walk_batches(iter([pdf])))
        assert len(out) == 4  # 64+64+64+8
        assert [len(b) for b in out] == [64, 64, 64, 8]
        assert list(out[0].columns) == [
            f.name for f in W.WARC_SCHEMA.fields
        ]
        uris = [u for b in out for u in b["target_uri"]]
        assert uris == [f"http://m/{i}" for i in range(200)]


class TestHeaderRules:
    def test_names_case_insensitive(self):
        raw = (b"WARC/1.0\r\n"
               b"warc-type: metadata\r\n"
               b"CONTENT-LENGTH: 2\r\n"
               b"Warc-Target-Uri: http://c\r\n"
               b"\r\nok\r\n\r\n")
        [(h, p)] = list(W.iter_warc_records(raw))
        assert h["warc-type"] == "metadata"
        assert h["warc-target-uri"] == "http://c"
        assert p == b"ok"

    def test_lws_continuation_folds(self):
        raw = (b"WARC/1.0\r\n"
               b"WARC-Type: metadata\r\n"
               b"WARC-Target-URI: http://host/very\r\n"
               b"\t/long/path\r\n"
               b"Content-Length: 0\r\n"
               b"\r\n\r\n\r\n")
        [(h, _)] = list(W.iter_warc_records(raw))
        assert h["warc-target-uri"] == "http://host/very /long/path"

    def test_missing_content_length_refuses(self):
        raw = b"WARC/1.0\r\nWARC-Type: metadata\r\n\r\n\r\n\r\n"
        with pytest.raises(ValueError, match="Content-Length"):
            list(W.iter_warc_records(raw))

    def test_truncated_payload_refuses(self):
        rec = _resp_record("http://a", b"full-body")[:-12]
        with pytest.raises(ValueError, match="remain"):
            list(W.iter_warc_records(rec))

    def test_truncated_gzip_member_refuses(self):
        full = W.gzip_member(_resp_record("http://a", b"b"))
        with pytest.raises(ValueError, match="truncated"):
            list(W.iter_warc_records(full[:-5]))

    def test_record_fn_cannot_forge_content_length(self):
        with pytest.raises(ValueError, match="managed"):
            W.warc_record("response", {"Content-Length": "99"}, b"")


class TestHeaderInjection:
    """The writer must reject bare CR/LF in header values — an encoded
    newline in a crawl URL reaching `write_warc_files` would forge
    headers or desync the record walk. Only the spec's LWS fold
    (CRLF + SP/HT) may cross a line."""

    @pytest.mark.parametrize("bad", [
        "u\r\nWARC-Type: forged", "u\rv", "u\nv", "u\r\n\r\nv",
    ])
    def test_bare_crlf_rejected(self, bad):
        with pytest.raises(ValueError, match="CR/LF"):
            W.warc_record("resource", {"WARC-Target-URI": bad}, b"")

    def test_lws_fold_path_stays_open(self):
        rec = W.warc_record(
            "resource",
            {"WARC-Target-URI": "http://x",
             "WARC-Date": "2026-01-01\r\n\tfolded"}, b"",
        )
        [(h, _)] = list(W.iter_warc_records(rec))
        assert h["warc-date"] == "2026-01-01 folded"


class TestRepeatedHeaders:
    def test_repeated_fields_comma_joined_in_order(self):
        # WARC-Concurrent-To (WARC) and Set-Cookie (HTTP) legitimately
        # repeat; last-value-wins would under-report the record
        raw = (b"WARC/1.0\r\n"
               b"WARC-Type: metadata\r\n"
               b"WARC-Concurrent-To: <urn:a>\r\n"
               b"WARC-Concurrent-To: <urn:b>\r\n"
               b"Content-Length: 0\r\n\r\n\r\n\r\n")
        [(h, _)] = list(W.iter_warc_records(raw))
        assert h["warc-concurrent-to"] == "<urn:a>, <urn:b>"

    def test_repeated_http_headers_joined(self):
        payload = (b"HTTP/1.1 200 OK\r\n"
                   b"Set-Cookie: a=1\r\n"
                   b"Set-Cookie: b=2\r\n\r\nbody")
        _, hh, body = W.parse_http_response(payload)
        assert hh["set-cookie"] == "a=1, b=2"
        assert body == b"body"


class TestLenientMode:
    """Opt-in junk tolerance: real crawl dumps contain torn members and
    malformed records; lenient mode quarantines them as accountable
    PARSE_ERROR_TYPE rows and resyncs at the next validated gzip
    member boundary. Strict (the default) still fails loudly."""

    @staticmethod
    def _junk_file(tmp_path):
        good = [
            _resp_record(f"http://len/{i}", f"<p>body {i} kept</p>".encode())
            for i in range(3)
        ]
        no_len = (b"WARC/1.0\r\nWARC-Type: metadata\r\n\r\n\r\n\r\n")
        blob = (
            W.gzip_member(good[0])
            + b"\x1f\x8b\x08" + b"\x00" * 24      # torn member
            + W.gzip_member(good[1])
            + W.gzip_member(no_len)               # record-level junk
            + W.gzip_member(good[2])
        )
        p = tmp_path / "junk.warc.gz"
        p.write_bytes(blob)
        return str(tmp_path)

    def test_strict_default_fails_loudly(self, spark, tmp_path):
        d = self._junk_file(tmp_path)
        with pytest.raises(Exception, match="gzip member"):
            W.read_warc(spark, d).collect()

    def test_lenient_quarantines_and_resyncs(self, spark, tmp_path):
        d = self._junk_file(tmp_path)
        rows = W.read_warc(spark, d, errors="lenient").collect()
        rows.sort(key=lambda r: r.record_index)
        kinds = [r.warc_type for r in rows]
        assert kinds == ["response", W.PARSE_ERROR_TYPE, "response",
                         W.PARSE_ERROR_TYPE, "response"]
        # good records survive intact, in order, around the junk
        uris = [r.target_uri for r in rows if r.warc_type == "response"]
        assert uris == [f"http://len/{i}" for i in range(3)]
        errs = [r for r in rows if r.warc_type == W.PARSE_ERROR_TYPE]
        assert "gzip" in errs[0].headers["error"]
        assert "Content-Length" in errs[1].headers["error"]
        # explicit accounting: the drop is countable from the output
        assert int(errs[0].headers["offset"]) > 0
        # and the html funnel never matches quarantine rows
        docs = W.warc_html_docs(
            W.read_warc(spark, d, errors="lenient")
        )
        assert docs.count() == 3

    def test_codec_level_lenient_plain_stream(self):
        # a plain (uncompressed) stream has no member boundary to
        # resync at: the remainder quarantines as one entry
        good = _resp_record("http://p/0", b"<p>ok</p>")
        errlog: list = []
        got = list(W.iter_warc_records(
            good + b"GARBAGE-NOT-A-RECORD" + good,
            lenient=True, errlog=errlog,
        ))
        assert len(got) == 1
        assert len(errlog) == 1 and "version" in errlog[0][1]


class TestSplitReader:
    """Byte-range input splits over ONE .warc.gz: the upgrade path for
    corpora re-packed into few huge files. The contract: split ranges
    partition the file and every record lands in exactly one task —
    resync-by-validated-member-boundary on entry, straddling member
    owned by the task holding its first byte."""

    @staticmethod
    def _big_file(tmp_path, n=400):
        recs = [
            _resp_record(
                f"http://s/{i:04d}",
                (f"<p>split fixture body {i} with some padding text "
                 f"{'y' * (i % 37)}</p>").encode(),
            )
            for i in range(n)
        ]
        p = str(tmp_path / "big.warc.gz")
        W.write_warc(p, recs)
        return p, n

    def test_split_read_identical_to_whole_read(self, spark, tmp_path):
        path, n = self._big_file(tmp_path)
        size = os.path.getsize(path)
        split = max(512, size // 13)  # force >10 splits
        whole = W.read_warc(spark, os.path.dirname(path))
        parts = W.read_warc_split(spark, path, split_bytes=split)
        cols = [c for c in whole.columns if c != "record_index"]

        def rel(df):
            return sorted(
                (r.target_uri, r.warc_type, r.http_status, bytes(r.body))
                for r in df.select(*cols).collect()
            )

        assert parts.count() == n
        assert rel(parts) == rel(whole)
        # offset-derived record_index is unique and orders records
        idx = [r.record_index
               for r in parts.orderBy("record_index").collect()]
        assert len(set(idx)) == n
        uris = [r.target_uri
                for r in parts.orderBy("record_index").collect()]
        assert uris == [f"http://s/{i:04d}" for i in range(n)]

    def test_fans_out_across_many_tasks(self, spark, tmp_path):
        from pyspark.sql import functions as F

        path, n = self._big_file(tmp_path)
        size = os.path.getsize(path)
        parts = W.read_warc_split(spark, path,
                                  split_bytes=max(512, size // 13))
        pids = (
            parts.select(F.spark_partition_id().alias("pid"))
            .distinct().count()
        )
        assert pids > 4  # one file, MANY tasks — the whole point

    def test_split_boundary_never_duplicates_or_drops(self, spark,
                                                      tmp_path):
        # adversarial split size: 1 byte — every member boundary is
        # also a split boundary somewhere; the ownership rule must
        # still partition records exactly once
        recs = [_resp_record(f"http://t/{i}", f"<p>b{i}</p>".encode())
                for i in range(5)]
        p = str(tmp_path / "tiny.warc.gz")
        W.write_warc(p, recs)
        got = W.read_warc_split(spark, p, split_bytes=97).collect()
        assert sorted(r.target_uri for r in got) == [
            f"http://t/{i}" for i in range(5)
        ]

    def test_lenient_split_quarantines(self, spark, tmp_path):
        good = [_resp_record(f"http://ls/{i}", b"<p>x</p>")
                for i in range(3)]
        blob = (W.gzip_member(good[0])
                + b"\x1f\x8b\x08" + b"\x00" * 24
                + W.gzip_member(good[1])
                + W.gzip_member(good[2]))
        p = tmp_path / "junk.warc.gz"
        p.write_bytes(blob)
        # split sized so the torn member follows good[0] INSIDE split 0
        # (junk sitting exactly at a split entry point is skipped by
        # resync without quarantine — indistinguishable from a
        # mid-member entry, documented on read_warc_split)
        split = len(W.gzip_member(good[0])) + 30
        rows = W.read_warc_split(
            spark, str(p), split_bytes=split, errors="lenient"
        ).collect()
        by_type = {}
        for r in rows:
            by_type.setdefault(r.warc_type, []).append(r)
        assert len(by_type["response"]) == 3
        assert len(by_type[W.PARSE_ERROR_TYPE]) == 1

    @given(
        st.lists(st.binary(min_size=0, max_size=120), min_size=1,
                 max_size=30),
        st.integers(min_value=1, max_value=4000),
    )
    @settings(max_examples=40, deadline=None)
    def test_any_split_size_partitions_records_exactly_once(
        self, bodies, split
    ):
        # the protocol pin, pure codec level (no Spark): for ANY split
        # size — down to 1 byte — consecutive ranges recover every
        # record exactly once, in file order. Arbitrary payloads so
        # fake magic/fake version lines inside bodies are exercised.
        import io as _io

        recs = [
            W.warc_record("resource",
                          {"WARC-Target-URI": f"http://h/{i}"}, b)
            for i, b in enumerate(bodies)
        ]
        raw = b"".join(W.gzip_member(r) for r in recs)
        got = []
        for start in range(0, len(raw), split):
            f = _io.BytesIO(raw)
            end = min(start + split, len(raw))
            got += [
                h["warc-target-uri"]
                for _, _, _, h, _ in W._split_records(
                    f, start, end, False, []
                )
            ]
        assert got == [f"http://h/{i}" for i in range(len(bodies))]

    def test_payload_magic_bytes_cannot_fake_a_boundary(self, spark,
                                                        tmp_path):
        # plant gzip magic INSIDE a payload: the resync probe must
        # reject it (decompressing there cannot yield a WARC version
        # line) and the record must survive split reads intact
        trap = b"<p>" + b"\x1f\x8b\x08" * 40 + b"</p>"
        recs = [_resp_record(f"http://m/{i}", trap) for i in range(6)]
        p = str(tmp_path / "magic.warc.gz")
        W.write_warc(p, recs)
        got = W.read_warc_split(spark, p, split_bytes=80).collect()
        assert len(got) == 6
        assert all(trap in bytes(r.body) for r in got)


class TestReviewFindingsR12:
    """Round-12 in-round review catches, pinned."""

    def test_header_name_injection_rejected(self):
        # a CR/LF smuggled in a header NAME must not forge headers
        with pytest.raises(ValueError, match="field name"):
            W.warc_record(
                "resource",
                {"X-A: x\r\nWARC-Target-URI": "http://forged"}, b"",
            )
        with pytest.raises(ValueError, match="field name"):
            W.warc_record("resource", {"Bad Name": "v"}, b"")

    def test_strict_errors_carry_member_offset(self):
        good = W.gzip_member(_resp_record("http://m/0", b"<p>x</p>"))
        bad = W.gzip_member(b"WARC/1.0\r\nWARC-Type: t\r\n\r\n\r\n\r\n")
        with pytest.raises(ValueError, match=r"compressed byte \d+"):
            list(W.iter_warc_records(good + bad))

    @staticmethod
    def _nested_archive(tmp_path):
        """An outer .warc.gz whose middle record archives an INNER
        .warc.gz, outer member written with level-0 (stored) deflate
        so the inner bytes sit verbatim — the one input that can fool
        a mid-payload split resync (documented on _probe_member)."""
        inner = b"".join(
            W.gzip_member(
                W.warc_record("resource",
                              {"WARC-Target-URI": f"http://inner/{i}"},
                              b"inner body " + bytes([48 + i]))
            )
            for i in (1, 2)
        )

        def gz0(record):
            import gzip as _gzip
            import io as _io

            buf = _io.BytesIO()
            with _gzip.GzipFile(fileobj=buf, mode="wb", mtime=0,
                                compresslevel=0) as g:
                g.write(record)
            return buf.getvalue()

        outer = [
            W.gzip_member(_resp_record("http://outer/0", b"<p>a</p>")),
            gz0(W.warc_record("resource",
                              {"WARC-Target-URI": "http://outer/1"},
                              inner)),
            W.gzip_member(_resp_record("http://outer/2", b"<p>c</p>")),
        ]
        p = tmp_path / "nested.warc.gz"
        p.write_bytes(b"".join(outer))
        return str(p)

    def test_nested_archive_whole_read_is_exact(self, spark, tmp_path):
        self._nested_archive(tmp_path)
        outer = {"http://outer/0", "http://outer/1", "http://outer/2"}
        # whole-file read: immune (inner bytes are payload, the
        # Content-Length walk never looks at them)
        got = [r.target_uri
               for r in W.read_warc(spark, str(tmp_path)).collect()]
        assert sorted(got) == sorted(outer)

    def test_nested_archive_split_read_never_loses_records(
        self, spark, tmp_path
    ):
        # the documented limitation: a mid-payload resync may emit the
        # inner records as EXTRA rows — but every outer record appears
        # exactly once at any split size (nothing lost, nothing
        # double-decoded)
        p = self._nested_archive(tmp_path)
        size = os.path.getsize(p)
        for split in (47, size // 3, size):
            got = [r.target_uri for r in
                   W.read_warc_split(spark, p, split_bytes=split)
                   .collect()]
            for uri in ("http://outer/0", "http://outer/1",
                        "http://outer/2"):
                assert got.count(uri) == 1, (split, got)
            assert all(u.startswith(("http://outer/", "http://inner/"))
                       for u in got)


class TestReviewFindingsR13:
    """Round-13 review catches (the r12 ADVICE list), pinned."""

    @staticmethod
    def _junk_file(tmp_path):
        """good member + torn member + two good members — the lenient
        walk must recover 3 records and account for exactly 1 drop."""
        good = [_resp_record(f"http://cx/{i}", b"<p>x</p>")
                for i in range(3)]
        blob = (W.gzip_member(good[0])
                + b"\x1f\x8b\x08" + b"\x00" * 24
                + W.gzip_member(good[1])
                + W.gzip_member(good[2]))
        p = tmp_path / "junk.warc.gz"
        p.write_bytes(blob)
        return str(p), len(W.gzip_member(good[0]))

    @pytest.mark.parametrize("bad", [0, -5])
    def test_split_bytes_validated(self, spark, tmp_path, bad):
        (tmp_path / "a.warc.gz").write_bytes(
            W.gzip_member(_resp_record("http://v/0", b"<p>x</p>"))
        )
        with pytest.raises(ValueError, match="split_bytes"):
            W.read_warc_split(spark, str(tmp_path), split_bytes=bad)

    def test_split_error_record_index_is_disjoint(self, spark,
                                                  tmp_path):
        # quarantine rows key as -offset-1: never collides with a real
        # record's offset+ordinal key from the same member
        p, off0 = self._junk_file(tmp_path)
        rows = W.read_warc_split(
            spark, p, split_bytes=off0 + 30, errors="lenient"
        ).collect()
        real = [r.record_index for r in rows
                if r.warc_type != W.PARSE_ERROR_TYPE]
        errs = [r.record_index for r in rows
                if r.warc_type == W.PARSE_ERROR_TYPE]
        assert all(i >= 0 for i in real)
        assert all(i < 0 for i in errs)
        assert len(set(real + errs)) == len(real) + len(errs)
        assert errs == [-off0 - 1]


class TestLenientFuzz:
    """The production claim, fuzzed: lenient mode NEVER raises on a
    corrupted archive — arbitrary byte flips, insertions, truncations
    — and records before the first corruption always survive."""

    @staticmethod
    def _file(n=6):
        members = [
            W.gzip_member(
                _resp_record(f"http://fz/{i}",
                             f"<p>body {i} text</p>".encode())
            )
            for i in range(n)
        ]
        ends = []
        acc = 0
        for m in members:
            acc += len(m)
            ends.append(acc)
        return b"".join(members), ends

    @given(st.data())
    @settings(max_examples=120, deadline=None)
    def test_lenient_never_raises_and_prefix_survives(self, data):
        blob, ends = self._file()
        raw = bytearray(blob)
        kind = data.draw(st.sampled_from(["flip", "insert", "cut"]))
        pos = data.draw(st.integers(0, len(raw) - 1))
        if kind == "flip":
            raw[pos] ^= data.draw(st.integers(1, 255))
        elif kind == "insert":
            raw[pos:pos] = data.draw(st.binary(min_size=1, max_size=9))
        else:
            raw = raw[:pos]
        errlog: list = []
        got = list(W.iter_warc_records(bytes(raw), lenient=True,
                                       errlog=errlog))
        uris = [h["warc-target-uri"] for h, _ in got]
        # every member ENTIRELY before the corruption point must
        # survive intact (exact boundaries — member sizes vary)
        intact = sum(1 for e in ends if e <= pos)
        assert uris[:intact] == [f"http://fz/{i}" for i in range(intact)]

    @given(st.integers(0, 10_000), st.integers(1, 255))
    @settings(max_examples=60, deadline=None)
    def test_lenient_split_walk_never_raises(self, seed, xor):
        import io as _io
        import random as _random

        blob, _ = self._file()
        raw = bytearray(blob)
        rng = _random.Random(seed)
        raw[rng.randrange(len(raw))] ^= xor
        f = _io.BytesIO(bytes(raw))
        split = max(1, len(raw) // 4)
        out = []
        for start in range(0, len(raw), split):
            out += list(W._split_records(
                f, start, min(start + split, len(raw)), True, []
            ))
        # no exception, and never MORE records than the file holds
        assert len(out) <= 6


class TestSinkExtension:
    def test_uncompressed_parts_drop_gz_suffix(self, spark, tmp_path):
        from pyspark.sql import functions as F

        df = spark.range(4).select(
            F.col("id"), F.lit(0).alias("__file")
        )

        def rec(row):
            yield W.warc_record(
                "resource", {"WARC-Target-URI": f"http://e/{row['id']}"},
                b"x",
            )

        out = str(tmp_path / "plain")
        summary = W.write_warc_files(df, out, rec, compress=False)
        [r] = summary.collect()
        assert r.warc_file.endswith("part-0.warc")
        assert os.path.exists(r.warc_file)
        assert W.read_warc(spark, out).count() == 4


class TestHttpParse:
    def test_request_vs_response_payloads(self):
        req = W.http_request("GET", "/p", "h.example")
        with pytest.raises(ValueError, match="not an HTTP response"):
            W.parse_http_response(req)

    def test_headerless_body(self):
        status, hh, body = W.parse_http_response(
            b"HTTP/1.1 204 No Content\r\n\r\n"
        )
        assert status == 204 and body == b""


@pytest.fixture(scope="module")
def warc_dir(spark, tmp_path_factory):
    """Two fixture files: responses (200 html, 404, 200 png), a request
    and a warcinfo record — every `warc_html_docs` gate load-bearing."""
    d = str(tmp_path_factory.mktemp("warcs"))
    info = W.warc_record(
        "warcinfo", {"Content-Type": "application/warc-fields"},
        b"software: test\r\n",
    )
    f1 = [
        info,
        _resp_record("http://a/ok", b"<p>kept page one body</p>"),
        _resp_record("http://a/gone", b"<p>dropped</p>", status=404),
        W.warc_record(
            "request",
            {"WARC-Target-URI": "http://a/ok",
             "Content-Type": "application/http; msgtype=request"},
            W.http_request("GET", "/ok", "a"),
        ),
    ]
    f2 = [
        info,
        _resp_record("http://b/ok", b"<p>kept page two body</p>"),
        _resp_record("http://b/img", b"\x89PNG", ctype="image/png"),
    ]
    W.write_warc(os.path.join(d, "f1.warc.gz"), f1)
    W.write_warc(os.path.join(d, "f2.warc.gz"), f2)
    return d


class TestSparkStage:
    def test_read_warc_one_row_per_record(self, spark, warc_dir):
        rows = W.read_warc(spark, warc_dir).collect()
        assert len(rows) == 7
        by_type = {}
        for r in rows:
            by_type.setdefault(r.warc_type, []).append(r)
        assert len(by_type["response"]) == 4
        assert len(by_type["request"]) == 1
        assert len(by_type["warcinfo"]) == 2
        req = by_type["request"][0]
        assert req.http_status is None  # HTTP fields only for responses
        assert req.body.startswith(b"GET /ok")
        ok = [r for r in by_type["response"]
              if r.target_uri == "http://a/ok"][0]
        assert ok.http_status == 200
        assert ok.http_content_type == "text/html"
        assert ok.body == b"<p>kept page one body</p>"

    def test_html_funnel_gates(self, spark, warc_dir):
        docs = W.warc_html_docs(W.read_warc(spark, warc_dir)).collect()
        got = {r.url: r.html for r in docs}
        # request/warcinfo (type), 404 (status), png (content-type) all out
        assert got == {
            "http://a/ok": "<p>kept page one body</p>",
            "http://b/ok": "<p>kept page two body</p>",
        }

    def test_write_warc_files_distributed(self, spark, tmp_path):
        from pyspark.sql import functions as F

        out = str(tmp_path / "sink")
        df = spark.range(20).select(
            F.col("id"), (F.col("id") % 4).alias("__file")
        )

        def rec(row):
            yield W.warc_record(
                "resource",
                {"WARC-Target-URI": f"http://x/{row['id']}"},
                str(row["id"]).encode(),
            )

        summary = W.write_warc_files(df, out, rec)
        assert summary.count() == 4
        assert sum(r.n_records for r in summary.collect()) == 20
        back = W.read_warc(spark, out)
        assert back.count() == 20
        # deterministic bytes: same input -> byte-identical files
        import hashlib
        h1 = {
            f: hashlib.md5(open(os.path.join(out, f), "rb").read())
            .hexdigest()
            for f in sorted(os.listdir(out))
        }
        out2 = str(tmp_path / "sink2")
        W.write_warc_files(df, out2, rec)
        h2 = {
            f: hashlib.md5(open(os.path.join(out2, f), "rb").read())
            .hexdigest()
            for f in sorted(os.listdir(out2))
        }
        assert h1 == h2


class TestStreamingWarcIngest:
    """Crawl stage zero as a STREAM: WARC files land in a directory,
    stream through the same Arrow record walk + html funnel, and feed
    the dedup admission gate — one admission batch per WARC file
    (maxFilesPerTrigger=1), exactly-once per the ingest markers."""

    def test_warc_stream_through_dedup_admission(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from borsa_spark.streaming.ingest import DedupIngest

        src = tmp_path / "warcs"
        src.mkdir()

        def resp(i, text):
            return _resp_record(
                f"http://crawl/{i}", f"<p>{text}</p>".encode()
            )

        # file 1: docs 0-2 unique; file 2: doc 3 unique + doc 4 an
        # EXACT copy of doc 0's text (cross-file dup -> must be
        # rejected by the stored-corpus md5 screen); file 3: doc 5
        # unique + doc 6 intra-batch copy of doc 5
        texts = {
            0: "alpha beta gamma delta epsilon zeta eta theta",
            1: "one two three four five six seven eight",
            2: "red orange yellow green blue indigo violet",
            3: "north south east west up down left right",
            4: "alpha beta gamma delta epsilon zeta eta theta",
            5: "spring summer autumn winter solstice equinox",
            6: "spring summer autumn winter solstice equinox",
        }
        W.write_warc(str(src / "f1.warc.gz"), [resp(i, texts[i]) for i in (0, 1, 2)])
        W.write_warc(str(src / "f2.warc.gz"), [resp(i, texts[i]) for i in (3, 4)])
        W.write_warc(str(src / "f3.warc.gz"), [resp(i, texts[i]) for i in (5, 6)])

        ing = DedupIngest(spark, str(tmp_path / "state"), n=3,
                          threshold=0.5)
        rec = W.read_warc_stream(spark, str(src), maxFilesPerTrigger=1)
        docs = W.warc_html_docs(rec).select(
            F.regexp_extract("url", r"/(\d+)$", 1).cast("long")
            .alias("doc_id"),
            F.regexp_replace("html", "<[^>]*>", "").alias("text"),
        )
        q = (
            docs.writeStream.foreachBatch(ing.process_batch)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        log = ing.admission_log()
        assert len(log) == 3  # one admission batch per WARC file
        assert sum(e["received"] for e in log) == 7
        # cross-file exact dup (4) + intra-batch dup (6) rejected
        assert sum(e["admitted"] for e in log) == 5
        stored = {r.id for r in ing.corpus_arrays().collect()}
        assert stored == {0, 1, 2, 3, 5}

        # exactly-once: a second availableNow drain over the same dir
        # (fresh checkpoint -> files replayed) must not re-admit
        q2 = (
            docs.writeStream.foreachBatch(ing.process_batch)
            .option("checkpointLocation", str(tmp_path / "ckpt2"))
            .option("maxFilesPerTrigger", 1)
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(120)
        assert {r.id for r in ing.corpus_arrays().collect()} == {0, 1, 2, 3, 5}


class TestMalformedBytes:
    def test_garbage_page_does_not_kill_the_funnel(self, spark,
                                                   tmp_path):
        # a response whose body is NOT valid UTF-8 (crawls archive
        # whatever the server sent) must degrade to replacement chars,
        # never raise — Spark 4's F.decode throws
        # MALFORMED_CHARACTER_CODING here, which is why the funnel
        # uses the lenient binary->string cast
        rec = _resp_record("http://g/bad", b"<p>ok \xff\xfe tail</p>")
        d = str(tmp_path)
        W.write_warc(d + "/g.warc.gz", [rec])
        rows = W.warc_html_docs(W.read_warc(spark, d)).collect()
        assert len(rows) == 1
        assert rows[0].html.startswith("<p>ok ")
        assert "tail" in rows[0].html


    def test_zero_byte_file_yields_no_rows(self, spark, tmp_path):
        # a torn upload / `touch` artifact next to real files must not
        # kill the scan: the walk yields an empty (typed) batch for it
        W.write_warc(
            str(tmp_path / "ok.warc.gz"),
            [W.warc_record("resource",
                           {"WARC-Target-URI": "http://x"}, b"p")],
        )
        (tmp_path / "empty.warc.gz").write_bytes(b"")
        rows = W.read_warc(spark, str(tmp_path)).collect()
        assert [r.target_uri for r in rows] == ["http://x"]
