"""WARC (ISO 28500) source: the format web-scale corpora arrive in.

The reference takes HTML strings / fetched URLs (defuddle.go:89-108,
ParseFromURL); at 100 TB pages arrive as Common-Crawl-style WARC
archives instead — ~1 GB gzip files, one gzip member per record, ~64k
files per crawl. This module turns a directory of them into the
pipeline's pages DataFrame (url, warc_ts, html) with nothing but the
stdlib: WARC is line-oriented headers + a Content-Length payload, and
multi-member gzip decodes incrementally with zlib.

Scale design:
- Distribution unit = the WARC FILE (gzip members are not splittable
  mid-stream without an index): `spark.read.format("binaryFile")`
  ships whole files through the JVM's Hadoop-FS channel (works on
  s3a/hdfs/local alike, with partition pruning on the path), and a
  mapInPandas generator parses records incrementally — compressed
  bytes are held once per task, the decompressed stream is never
  materialized whole. A crawl's ~64k files dwarf any cluster's task
  slots, so per-file parallelism saturates executors without a
  shuffle.
- Arrow cells cap at 2 GB, so files beyond ~1.5 GB compressed should
  be pre-split (Common Crawl's own 1 GB convention fits with room).
- Output batches flush every ``batch_rows`` records so a 1 GB archive
  never pins its full decoded contents in one Arrow batch.

The HTTP payload is kept as raw bytes (``html`` binary column):
charset sniffing belongs to the kernel (kernel.py decode_html), same
as the parquet pages path. Chunked transfer-encoding is de-chunked
and a gzip/deflate Content-Encoding is decoded here, because those
are transport artifacts of the capture, not page bytes.
"""

from __future__ import annotations

import io
import logging
import os
import zlib
from email.utils import parsedate_to_datetime
from typing import Iterable, Iterator, Optional

log = logging.getLogger("defuddle_spark.spark.warc")

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (BinaryType, IntegerType, LongType,
                               StringType, StructField, StructType,
                               TimestampType)

from .session import drop_zip_importers

WARC_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("html", BinaryType()),
    StructField("warc_type", StringType()),
    StructField("record_id", StringType()),
    StructField("content_type", StringType()),
    StructField("http_status", IntegerType()),
    StructField("http_content_type", StringType()),
    StructField("warc_path", StringType()),
])


class _Stream:
    """Buffered reader over raw-or-multi-member-gzip bytes with the two
    primitives WARC parsing needs (readline, read-exactly-n), decoding
    lazily so the full decompressed archive never sits in memory.

    Corrupt compressed data does NOT end the stream or raise: one bad
    byte in a 100 TB crawl must not fail the task, and with Common
    Crawl's member-per-record convention it must not drop the rest of
    the archive either. On zlib.error the stream REPLAYS the corrupt
    member's compressed bytes in small slices to recover everything
    that decoded cleanly before the corruption (zlib discards the
    failing call's whole return value — up to 1 MB of compressed input
    whose clean records would otherwise vanish, the entire file for a
    single-member archive), RESYNCS at the next gzip member magic, and
    raises a read BARRIER: reads drain what decoded cleanly before the
    corruption, then come back short until the caller acknowledges the
    boundary (``consume_resync``) — so a partially-decoded record can
    never splice the next member's bytes into its payload. Every
    resync is counted (``resyncs``) so callers can surface the loss
    instead of eating it silently."""

    _CHUNK = 1 << 20
    _MAGIC = b"\x1f\x8b\x08"

    def __init__(self, raw: bytes, archive: bool = False):
        self._gzip = raw[:2] == b"\x1f\x8b"
        self._rawb = raw
        self._raw = memoryview(raw)
        self._pos = 0
        self._buf = bytearray()
        self._off = 0  # read cursor into _buf; compacted lazily
        self._dead = False
        self.resyncs = 0
        plain_warc = False
        if archive and not self._gzip:
            # Match the parser's real blank-line tolerance (any number
            # of leading CRLFs), not a fixed window: a 16-byte peek
            # misclassified valid plain archives with >5 blank lines
            # and re-read them as gzip from inside a payload.
            i = 0
            while i < len(raw) and raw[i] in (0x0D, 0x0A):
                i += 1
            plain_warc = raw[i:i + 5] == b"WARC/"
        if archive and not self._gzip and not plain_warc:
            # archive=True only: HTTP payloads / chunked bodies wrapped
            # in _Stream must never be member-scanned (a gzip
            # Content-Encoding body CONTAINS the magic bytes).
            # Neither gzip magic nor a plain-WARC version line at the
            # start: a corrupt FIRST member header (the 2-byte sniff is
            # exactly as fragile as any other byte). Without this, the
            # whole file would silently parse as an empty plain archive
            # — zero records, zero accounting. Resync to the first
            # member magic and count it.
            nxt = raw.find(self._MAGIC)
            if nxt != -1:
                self._gzip = True
                self._pos = nxt
                self.resyncs += 1
            elif raw:
                # Nonempty, not gzip, not plain WARC, no member magic
                # anywhere: the file is unparseable (e.g. a flip that
                # destroyed the only member's magic). It will yield zero
                # records — count the event so that outcome is surfaced
                # as corruption, never as a silently-empty archive.
                self.resyncs += 1
        self._z = zlib.decompressobj(wbits=31) if self._gzip else None
        # buf index where the CURRENT gzip member's decoded output starts
        # (fallback rollback point if a corrupt member can't be replayed)
        self._mark = 0
        # raw offset where the CURRENT member's compressed bytes start
        # (the replay window on corruption) and cumulative decoded bytes
        # this member has delivered so far (how much of the replay output
        # is already in _buf)
        self._member_raw_start = self._pos
        self._member_out = 0
        self._barrier = False

    def _avail(self) -> int:
        return len(self._buf) - self._off

    def _compact(self) -> None:
        # One memmove per ~CHUNK consumed instead of one per readline:
        # with small records over a single-member gzip the per-call
        # del _buf[:k] pattern memmoves the ~0.5 MB residue for every
        # header line (~800 MB moved per MB parsed).
        if self._off > self._CHUNK or self._off >= len(self._buf):
            del self._buf[:self._off]
            self._mark = max(0, self._mark - self._off)
            self._off = 0

    def consume_resync(self) -> bool:
        """Acknowledge a pending resync boundary: the caller hit the
        corruption (short read or lost framing), dropped the partial
        record, and wants to continue at the next member (a record
        boundary under the member-per-record convention). Everything
        still buffered is the corrupt member's SUSPECT TAIL — fills are
        blocked while the barrier is pending, so nothing newer can be
        behind it, and anything clean was consumed before the caller
        hit trouble (a flip that keeps deflate structurally valid
        decodes garbage which would otherwise be waded through as
        header lines, losing framing for the whole rest of the file).
        Drop it so the next parse starts exactly at the resync point.
        Returns False when no boundary is pending (a short read then
        means genuine end of stream)."""
        if not self._barrier:
            return False
        del self._buf[self._off:]
        self._mark = min(self._mark, len(self._buf))
        self._barrier = False
        return True

    _REPLAY_SLICE = 4096

    def _replay_member(self) -> int:
        """Recover the corrupt member's decoded output up to the exact
        corruption point: zlib.error discards the FAILING decompress
        call's entire return value, which for a single-member archive or
        a >1 MB member is up to 1 MB of compressed input whose clean
        records would silently vanish. All of the member's compressed
        bytes are slices of ``_rawb`` we still hold, so re-decompress
        with a fresh object — one coarse pass to locate the failing
        4 KB slice, then a second pass that replays the clean prefix
        coarsely and the failing slice BYTE by byte, so the loss is the
        decoded yield of a single compressed byte. Appends the part of
        the output the buffer doesn't already hold."""
        data = self._rawb[self._member_raw_start:self._pos]
        z = zlib.decompressobj(wbits=31)
        out = bytearray()
        consumed = 0

        def feed(upto: int, step: int) -> bool:
            nonlocal consumed
            while consumed < upto:
                end = min(consumed + step, upto)
                out.extend(z.decompress(data[consumed:end]))
                consumed = end
                if z.eof:
                    return True
            return False

        try:
            feed(len(data), self._REPLAY_SLICE)
        except zlib.error:
            # refine: clean prefix coarsely, failing slice byte-by-byte
            fail_at = consumed
            z = zlib.decompressobj(wbits=31)
            out = bytearray()
            consumed = 0
            try:
                if not feed(fail_at, self._CHUNK):
                    feed(len(data), 1)
            except zlib.error:
                pass
        if len(out) >= self._member_out:
            self._buf += out[self._member_out:]
        else:
            # replay produced less than was already delivered (should
            # not happen — decompression is deterministic); fall back to
            # the conservative discard so framing can't be corrupted
            del self._buf[max(self._off, self._mark):]
        return consumed

    def _resync(self) -> None:
        self._replay_member()
        self._barrier = True
        self.resyncs += 1
        # Scan for the next member from just past the corrupt member's
        # OWN magic — never from the replay's consumed offset: a flip
        # can leave deflate structurally valid while decoding garbage,
        # so the failing member may have "consumed" the next members'
        # compressed bytes as its own, and skipping that far would lose
        # real records. Scanning early only risks false-positive magics
        # (the 3-byte pattern inside this member's compressed data),
        # which fail to decompress and land back here one step further —
        # member_raw_start advances every time, so this terminates.
        nxt = self._rawb.find(self._MAGIC, self._member_raw_start + 1)
        if nxt == -1:
            self._dead = True
            return
        self._pos = nxt
        self._member_raw_start = nxt
        self._z = zlib.decompressobj(wbits=31)
        self._mark = len(self._buf)
        self._member_out = 0

    def _fill(self, need: int) -> None:
        if self._barrier:
            return  # no new data crosses an unacknowledged boundary
        try:
            self._fill_inner(need)
        except zlib.error:
            # A false-positive magic (the 3-byte pattern inside compressed
            # data) just fails again here and resyncs one step further —
            # the scan position is strictly monotonic, so this terminates.
            self._resync()

    def _fill_inner(self, need: int) -> None:
        while self._avail() < need and not self._dead:
            if not self._gzip:
                if self._pos >= len(self._raw):
                    break
                take = self._raw[self._pos:self._pos + need - self._avail()]
                self._pos += len(take)
                self._buf += take
                continue
            z = self._z
            if z.eof:
                # Member finished. The next member's bytes may sit in
                # unused_data / unconsumed_tail — measured on CPython's
                # zlib: at eof under max_length BOTH are set and hold the
                # SAME remaining bytes (concatenating would duplicate the
                # next member), and re-feeding unconsumed_tail on the
                # finished object returns 0 bytes forever. So this eof
                # check MUST precede the unconsumed_tail re-feed, and the
                # leftover is one of the two, not their sum.
                rest = bytes(z.unused_data or z.unconsumed_tail)
                self._z = zlib.decompressobj(wbits=31)
                self._mark = len(self._buf)
                self._member_raw_start = self._pos - len(rest)
                self._member_out = 0
                if rest:
                    got = self._z.decompress(rest, self._CHUNK)
                    self._member_out += len(got)
                    self._buf += got
                    self._check_input_end()
                elif self._pos >= len(self._raw):
                    break
                continue
            if z.unconsumed_tail:
                # max_length left compressed input unconsumed: it MUST be
                # re-fed before any new chunk, or bytes are silently lost
                got = z.decompress(z.unconsumed_tail, self._CHUNK)
                self._member_out += len(got)
                self._buf += got
                self._check_input_end()
                continue
            if self._pos >= len(self._raw):
                break
            chunk = bytes(self._raw[self._pos:self._pos + self._CHUNK])
            self._pos += len(chunk)
            got = z.decompress(chunk, self._CHUNK)
            self._member_out += len(got)
            self._buf += got
            self._check_input_end()

    def _check_input_end(self) -> None:
        """Once the member's last compressed byte has been fed, flush
        what inflate still holds and check the member reached its end
        marker and CRC. A member that runs out of input first is
        truncated or garbled — a flipped byte can turn the final block
        into one that never terminates, so no zlib.error ever fires —
        and it is counted as a corruption event HERE, before any of its
        records is handed out, so digest verification (``"auto"``)
        covers them. Nothing follows it: the stream ends after the
        buffered bytes."""
        z = self._z
        if self._pos < len(self._raw) or z.eof or z.unconsumed_tail:
            return
        tail = z.flush()
        self._member_out += len(tail)
        self._buf += tail
        if not z.eof:
            self.resyncs += 1
            self._dead = True

    def readline(self, limit: int = 1 << 16) -> bytes:
        probe = 256
        while True:
            self._fill(probe)
            i = self._buf.find(b"\n", self._off)
            if i != -1 or self._avail() < probe:
                break
            if probe >= limit:
                # Overlong line (e.g. a >64 KB WARC-Target-URI): keep
                # framing intact — return the truncated prefix but
                # CONSUME through the real newline so the rest of the
                # line can't masquerade as the next header.
                head = bytes(self._buf[self._off:self._off + limit])
                self._off += limit
                self._compact()
                while True:  # discard to the line's real end
                    j = self._buf.find(b"\n", self._off)
                    if j != -1:
                        self._off = j + 1
                        break
                    self._off = len(self._buf)
                    self._compact()
                    self._fill(self._CHUNK)
                    if self._avail() == 0:
                        break
                self._compact()
                return head
            probe *= 2
        if i == -1:
            i = len(self._buf) - 1
            if i < self._off:
                return b""
        if i - self._off >= limit:
            # Same contract as the probe path below regardless of how the
            # newline got buffered (gzip decodes ~1 MB chunks, so it often
            # arrives before the probe/limit path triggers): an overlong
            # line returns exactly its first ``limit`` bytes and consumes
            # through the real newline — identical records must parse
            # identically from plain and gzip archives.
            head = bytes(self._buf[self._off:self._off + limit])
            self._off = i + 1
            self._compact()
            return head
        line = bytes(self._buf[self._off:i + 1])
        self._off = i + 1
        self._compact()
        return line

    def read(self, n: int) -> bytes:
        if n <= 0:
            return b""
        self._fill(n)
        out = bytes(self._buf[self._off:self._off + n])
        self._off += len(out)
        self._compact()
        return out


def _parse_headers(stream: _Stream) -> Optional[dict]:
    """Read a WARC or HTTP header block up to the blank line; keys
    lower-cased; returns None at end of stream."""
    headers: dict = {}
    started = False
    while True:
        line = stream.readline()
        if not line:
            return headers if started else None
        if line in (b"\r\n", b"\n"):
            if started:
                return headers
            continue  # tolerate stray blank lines between records
        started = True
        if b":" in line:
            k, _, v = line.partition(b":")
            headers[k.strip().lower().decode("latin-1")] = \
                v.strip().decode("latin-1")
        else:
            headers.setdefault("_start_line", []).append(
                line.strip().decode("latin-1"))
    return headers


def _dechunk(body: bytes) -> bytes:
    out = io.BytesIO()
    s = _Stream(body)
    while True:
        line = s.readline()
        if not line:
            break
        try:
            size = int(line.strip().split(b";")[0], 16)
        except ValueError:
            break
        if size == 0:
            break
        out.write(s.read(size))
        s.readline()  # trailing CRLF after each chunk
    return out.getvalue()


def _gunzip_members(body: bytes) -> bytes:
    """Decode ALL gzip members of a Content-Encoding: gzip body — some
    servers/CDNs emit multi-member streams, and one-shot
    zlib.decompress(wbits=47) silently stops after the first member. A
    truncated final member or trailing garbage keeps what decoded."""
    out = io.BytesIO()
    data = body
    while data:
        z = zlib.decompressobj(wbits=47)
        try:
            out.write(z.decompress(data))
        except zlib.error:
            break
        if not z.eof:
            break  # truncated final member
        data = z.unused_data
    return out.getvalue()


def _zlib_wrapped(b: bytes) -> bool:
    """RFC 1950 header check: CM == 8 and the CMF/FLG pair a multiple
    of 31 — first-byte-is-0x78 misses valid windows below 32K
    (CMF 0x08..0x68)."""
    return (len(b) >= 2 and (b[0] & 0x0F) == 8
            and ((b[0] << 8) | b[1]) % 31 == 0)


def _decode_http_payload(payload: bytes):
    """Split an application/http;msgtype=response payload into
    (status, content_type, body), undoing chunked transfer-encoding and
    gzip/deflate content-encoding (capture-transport artifacts).
    Undecodable bodies keep their raw bytes; the kernel records a
    decode error per-row."""
    s = _Stream(payload)
    status_line = s.readline()
    status = None
    parts = status_line.split()
    if len(parts) >= 2 and parts[0].startswith(b"HTTP/"):
        try:
            status = int(parts[1])
        except ValueError:
            status = None
    headers = _parse_headers(s) or {}
    body = s.read(len(payload))  # rest of the stream
    if "chunked" in headers.get("transfer-encoding", "").lower():
        body = _dechunk(body)
    enc = headers.get("content-encoding", "").lower()
    if "gzip" in enc:
        decoded = _gunzip_members(body)
        if decoded:
            body = decoded
    elif "deflate" in enc:
        # Spec says zlib-wrapped, the wild serves raw too: pick the
        # branch the RFC 1950 header says, fall back to the other.
        order = ((zlib.MAX_WBITS, -zlib.MAX_WBITS) if _zlib_wrapped(body)
                 else (-zlib.MAX_WBITS, zlib.MAX_WBITS))
        for wb in order:
            try:
                body = zlib.decompress(body, wbits=wb)
                break
            except zlib.error:
                continue
    return status, headers.get("content-type"), body


def _digest_ok(header: str, payload: bytes) -> Optional[bool]:
    """Check a WARC-Block-Digest header (``algo:value``, value in the
    Common Crawl base32 convention or hex) against the payload. Returns
    None when the algorithm is unknown (can't verify ≠ failed)."""
    import base64
    import hashlib

    algo, _, want = header.partition(":")
    try:
        h = hashlib.new(algo.strip().lower(), payload)
    except (ValueError, TypeError):
        return None
    b32 = base64.b32encode(h.digest()).decode()
    want = want.strip()
    return (want.upper().rstrip("=") == b32.rstrip("=")
            or want.lower() == h.hexdigest())


def _verified_records(stream: _Stream, verify_digests,
                      counts: dict) -> Iterator[dict]:
    """Frame records off ``stream`` and drop those failing digest
    verification (counted in ``counts["digest_failures"]``); see
    iter_warc_records for the policy."""
    while True:
        headers = _parse_headers(stream)
        if headers is None:
            if stream.consume_resync():
                continue  # corrupt member skipped; next one follows
            return
        if not any(v.startswith("WARC/") for v in
                   headers.get("_start_line", [])):
            if stream.consume_resync():
                continue
            return  # lost framing: stop rather than misattribute bytes
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            if stream.consume_resync():
                continue
            return
        if length < 0:
            # malformed framing: same recovery as the sibling
            # branches — try the resync boundary before giving up,
            # so one garbled member can't drop the rest of the
            # archive
            if stream.consume_resync():
                continue
            return
        payload = stream.read(length)
        if len(payload) < length:
            if stream.consume_resync():
                continue  # partial record dropped at the boundary
            return  # truncated tail record
        dig = headers.get("warc-block-digest")
        if dig and (verify_digests is True
                    or (verify_digests == "auto"
                        and stream.resyncs > 0)):
            ok = _digest_ok(dig, payload)
            # On a stream that HIT corruption, an unparseable digest
            # (ok is None — e.g. the value separator itself got
            # garbled) counts as failed: "can't verify" on a suspect
            # stream is not "verified". On a clean stream under
            # verify_digests=True, an unknown algorithm passes
            # through (legit archives may use digests hashlib lacks).
            if ok is False or (ok is None and stream.resyncs > 0):
                counts["digest_failures"] += 1
                continue
        headers["payload"] = payload
        yield headers


def _ambiguous_ids(raw: bytes, verify_digests) -> set:
    """Record ids that frame in ``raw`` with two different
    WARC-Block-Digest values: two different blocks claim the id, and
    nothing tells which one is the record's own."""
    digests: dict = {}
    ambiguous: set = set()
    for rec in _verified_records(_Stream(raw, archive=True),
                                 verify_digests, {"digest_failures": 0}):
        rid = rec.get("warc-record-id")
        dig = rec.get("warc-block-digest")
        if rid is None or not dig:
            continue
        if digests.setdefault(rid, dig) != dig:
            ambiguous.add(rid)
    return ambiguous


def iter_warc_records(raw: bytes, stats: Optional[dict] = None,
                      verify_digests="auto") -> Iterator[dict]:
    """Yield per-record dicts from one WARC file's raw bytes (plain or
    multi-member gzip). Keys: warc headers (lower-cased) plus
    ``payload`` bytes. Malformed trailing garbage ends iteration
    rather than raising: a truncated tail record is a capture artifact
    the other records shouldn't pay for.

    A corrupt gzip member mid-archive loses only ITS record: the stream
    resyncs at the next member magic (a record boundary under the
    member-per-record convention) and iteration continues — every
    stop/short-read condition below first checks whether it was a
    resync boundary rather than real end-of-data.

    Integrity: incremental decode hands out records BEFORE a gzip
    member's trailing CRC is seen, so corruption that garbles bytes
    without breaking the deflate structure (a flipped literal) can
    surface as a parseable-but-wrong record. WARC's own per-record
    ``WARC-Block-Digest`` header is the integrity layer that survives
    this: ``verify_digests="auto"`` (default) checks it for every
    record yielded once the stream has hit corruption — zero cost on
    the clean 99.99% of files — and drops mismatching records;
    ``True`` checks every record carrying the header; ``False`` never
    does. A digest can't catch byte-PERFECT duplicates (a corrupt
    LZ77 back-reference can make deflate re-emit whole earlier
    records), so once a stream has hit corruption, records whose
    WARC-Record-ID was already yielded are suppressed too. Keeping the
    first copy is wrong in one case: a garbled header can give an
    intact block ANOTHER record's id (the digest binds the block, not
    the headers), and the garbled copy can come first. So an id whose
    copies carry different block digests is ambiguous and every copy
    of it is dropped; a second pass over ``raw`` finds those ids, paid
    only by files that hit corruption.

    Detection-window caveat: "auto" protects records yielded AFTER the
    corruption is detected. For member-per-record archives (the Common
    Crawl convention, and what write_warc emits) detection effectively
    precedes the corrupt member's yields — small members decode whole
    inside the erroring call. For SINGLE-member / multi-MB-member
    archives, a flip that keeps deflate structurally valid is only
    caught by the member-end CRC, so garbled records decoded and
    consumed between the flip and the member end can slip through
    unverified; ``stats["resyncs"] > 0`` marks the file, and a caller
    needing certainty re-reads that file with ``verify_digests=True``.
    ``stats`` (optional dict) receives ``resyncs`` (corruption
    events), ``digest_failures`` (records dropped by verification) and
    ``duplicate_drops``, so callers can surface the loss per file."""
    stream = _Stream(raw, archive=True)
    counts = {"digest_failures": 0}
    duplicate_drops = 0
    # ids are tracked from the first record (a set add per record) so a
    # post-corruption duplicate of a record yielded BEFORE detection is
    # still caught; suppression itself only engages once the stream is
    # known corrupt.
    seen_ids: set = set()
    ambiguous = None
    try:
        for rec in _verified_records(stream, verify_digests, counts):
            rid = rec.get("warc-record-id")
            if rid is not None and stream.resyncs > 0:
                if ambiguous is None:
                    ambiguous = _ambiguous_ids(raw, verify_digests)
                if rid in seen_ids or rid in ambiguous:
                    duplicate_drops += 1
                    continue
            if rid is not None:
                seen_ids.add(rid)
            yield rec
    finally:
        if stats is not None:
            stats["resyncs"] = stream.resyncs
            stats["digest_failures"] = counts["digest_failures"]
            stats["duplicate_drops"] = duplicate_drops


def _records_to_rows(path: str, raw: bytes, warc_types: tuple,
                     session_tz: str = "UTC",
                     resync_acc=None, verify_digests="auto"
                     ) -> Iterator[dict]:
    import pandas as pd

    stats: dict = {}
    n_rows = 0
    for rec in iter_warc_records(raw, stats=stats,
                                 verify_digests=verify_digests):
        n_rows += 1
        wtype = rec.get("warc-type", "")
        if warc_types and wtype not in warc_types:
            continue
        ctype = rec.get("content-type", "")
        status = None
        http_ctype = None
        body = rec["payload"]
        if ctype.startswith("application/http"):
            status, http_ctype, body = _decode_http_payload(body)
        ts = None
        raw_ts = rec.get("warc-date")
        if raw_ts:
            try:  # WARC-Date is ISO 8601 (RFC 3339), e.g. ...T...Z
                ts = pd.Timestamp(raw_ts)
            except ValueError:
                try:
                    ts = pd.Timestamp(parsedate_to_datetime(raw_ts))
                except (TypeError, ValueError):
                    ts = None
        if ts is not None and ts.tzinfo is not None:
            # Arrow interprets tz-NAIVE timestamps as session-local, so
            # the aware WARC instant must be converted to the SESSION
            # zone (not UTC) before dropping the tz, or every non-UTC
            # session shifts warc_ts by its offset.
            try:
                ts = ts.tz_convert(session_tz).tz_localize(None)
            except Exception:
                ts = ts.tz_convert("UTC").tz_localize(None)
        yield {
            "url": rec.get("warc-target-uri"),
            "warc_ts": ts,
            "html": body,
            "warc_type": wtype,
            "record_id": rec.get("warc-record-id"),
            "content_type": ctype,
            "http_status": status,
            "http_content_type": http_ctype,
            "warc_path": path,
        }
    if stats.get("resyncs"):
        # Surface the loss (ADVICE r6): at crawl scale a silent drop per
        # ~1 GB file is unobservable data loss. The executor log line is
        # always emitted; the optional accumulator makes the total
        # measurable from the driver across the whole read.
        log.warning(
            "WARC %s: %d corruption event(s) (corrupt/unparseable gzip "
            "members; replayed + resynced where a next member magic "
            "exists); %d record(s) recovered, %d dropped by "
            "WARC-Block-Digest verification, %d duplicate-id record(s) "
            "suppressed", path, stats["resyncs"], n_rows,
            stats.get("digest_failures", 0),
            stats.get("duplicate_drops", 0))
        if resync_acc is not None:
            resync_acc.add(stats["resyncs"])


def build_http_response(body: bytes, status: int = 200,
                        content_type: bytes = b"text/html; charset=utf-8",
                        transport: str = "identity") -> bytes:
    """Serialize an HTTP/1.1 response payload for a WARC response
    record. ``transport`` applies a capture-transport artifact the
    reader must undo: ``identity`` | ``chunked`` | ``gzip`` |
    ``deflate`` (zlib-wrapped). Deterministic bytes for fixed inputs."""
    headers = [b"HTTP/1.1 " + str(status).encode() + b" OK",
               b"Content-Type: " + content_type]
    if transport == "gzip":
        body = gzip_compress(body)
        headers.append(b"Content-Encoding: gzip")
    elif transport == "deflate":
        body = zlib.compress(body)
        headers.append(b"Content-Encoding: deflate")
    if transport == "chunked":
        headers.append(b"Transfer-Encoding: chunked")
        half = max(1, len(body) // 2)
        body = (format(half, "x").encode() + b"\r\n" + body[:half]
                + b"\r\n" + format(len(body) - half, "x").encode()
                + b"\r\n" + body[half:] + b"\r\n0\r\n\r\n")
    else:
        headers.append(b"Content-Length: " + str(len(body)).encode())
    return b"\r\n".join(headers) + b"\r\n\r\n" + body


def _hdr_value(v: str) -> str:
    """Percent-encode CR/LF in a header value: one url containing a
    CRLF would otherwise inject a blank line into the header block and
    destroy the framing of the WHOLE archive on read-back."""
    return v.replace("\r", "%0D").replace("\n", "%0A")


def block_digest(payload: bytes) -> str:
    """WARC-Block-Digest value in the Common Crawl convention:
    ``sha1:`` + unpadded upper-case base32 of the payload sha1."""
    import base64
    import hashlib

    return "sha1:" + base64.b32encode(
        hashlib.sha1(payload).digest()).decode().rstrip("=")


def build_warc_record(payload: bytes, url: Optional[str] = None,
                      warc_type: str = "response",
                      content_type: str = "application/http; "
                                          "msgtype=response",
                      date: str = "2024-03-01T12:00:00Z",
                      record_id: str = "<urn:uuid:0>",
                      with_digest: bool = False) -> bytes:
    """Serialize one WARC/1.0 record (headers + payload + the spec's
    two trailing CRLF). Header values are CR/LF-sanitized.
    ``with_digest=True`` stamps a ``WARC-Block-Digest`` header — the
    per-record integrity layer the reader's ``verify_digests`` checks
    when an archive turns out corrupt."""
    head = ["WARC/1.0",
            "WARC-Type: " + _hdr_value(warc_type),
            "WARC-Date: " + _hdr_value(date),
            "WARC-Record-ID: " + _hdr_value(record_id),
            "Content-Type: " + _hdr_value(content_type),
            "Content-Length: " + str(len(payload))]
    if with_digest:
        head.insert(-1, "WARC-Block-Digest: " + block_digest(payload))
    if url is not None:
        head.insert(2, "WARC-Target-URI: " + _hdr_value(url))
    return ("\r\n".join(head) + "\r\n\r\n").encode() + payload + b"\r\n\r\n"


def gzip_compress(data: bytes) -> bytes:
    """One deterministic gzip member (mtime pinned to 0 so identical
    inputs give identical archive bytes)."""
    import gzip as _gzip
    return _gzip.compress(data, mtime=0)


def build_warc_archive(records: Iterable[bytes],
                       gzip_members: bool = True) -> bytes:
    """Concatenate serialized records into one archive — Common Crawl's
    member-per-record gzip convention by default."""
    if gzip_members:
        return b"".join(gzip_compress(r) for r in records)
    return b"".join(records)


def read_warc(spark: SparkSession, path: str,
              warc_types: Iterable[str] = ("response",),
              batch_rows: int = 256, resync_acc=None,
              verify_digests="auto") -> DataFrame:
    """Read WARC archives into the pages shape: one row per (matching)
    record with (url, warc_ts, html binary, ...) — feed
    ``.select("url", "html")`` straight into extract_pages. ``path``
    accepts the binaryFile source's globs (s3a/hdfs/local).

    ``warc_types`` filters records (Common Crawl responses by default;
    pass () for everything — request/metadata/warcinfo records
    included). Non-HTTP records keep their raw payload in ``html``.

    A corrupt gzip member loses only its own record (the parser replays
    the member up to the corruption and resyncs at the next member
    boundary); pass ``resync_acc`` — a
    ``spark.sparkContext.accumulator(0)`` — to count skipped members
    across the whole read from the driver (each skip also logs a
    warning with the archive path on the executor).
    ``verify_digests`` gates WARC-Block-Digest checking (see
    iter_warc_records; the "auto" default verifies only records from
    streams that hit corruption).
    """
    types = tuple(warc_types or ())
    session_tz = spark.conf.get("spark.sql.session.timeZone", "UTC")
    files = spark.read.format("binaryFile").load(path)
    return files.select("path", "content").mapInPandas(
        _warc_gen(types, batch_rows, session_tz, resync_acc,
                  verify_digests), WARC_SCHEMA)


def _warc_gen(types: tuple, batch_rows: int, session_tz: str,
              resync_acc=None, verify_digests="auto"):
    def gen(batches):
        import pandas as pd

        drop_zip_importers()
        cols = [f.name for f in WARC_SCHEMA.fields]
        for pdf in batches:
            for path_, content in zip(pdf["path"], pdf["content"]):
                rows = []
                for row in _records_to_rows(path_, bytes(content), types,
                                            session_tz, resync_acc,
                                            verify_digests):
                    rows.append(row)
                    if len(rows) >= batch_rows:
                        yield pd.DataFrame(rows, columns=cols)
                        rows = []
                if rows:
                    yield pd.DataFrame(rows, columns=cols)
        drop_zip_importers()
    return gen


# binaryFile needs an explicit schema as a STREAMING source (the static
# reader infers this exact shape)
_BINARY_FILE_SCHEMA = StructType([
    StructField("path", StringType()),
    StructField("modificationTime", TimestampType()),
    StructField("length", LongType()),
    StructField("content", BinaryType()),
])


def read_warc_stream(spark: SparkSession, path: str,
                     warc_types: Iterable[str] = ("response",),
                     batch_rows: int = 256,
                     max_files_per_trigger: Optional[int] = None,
                     resync_acc=None, verify_digests="auto") -> DataFrame:
    """Streaming read_warc: archives LANDING in a directory (a crawl in
    progress, an object-store drop zone) flow through the same
    incremental parser as micro-batches of whole new files — the file
    remains the distribution unit, the checkpoint tracks which archives
    were ingested, and an ``availableNow`` run drains the backlog then
    stops (resume picks up only files that arrived since). Feed the
    result's ``(url, html)`` straight into the streaming extraction
    pipeline; ``max_files_per_trigger`` bounds per-batch ingest the
    same way the parquet page stream does."""
    types = tuple(warc_types or ())
    session_tz = spark.conf.get("spark.sql.session.timeZone", "UTC")
    from .streaming import _with_files_per_trigger

    reader = _with_files_per_trigger(
        spark.readStream.format("binaryFile").schema(_BINARY_FILE_SCHEMA),
        max_files_per_trigger)
    files = reader.load(path)
    return files.select("path", "content").mapInPandas(
        _warc_gen(types, batch_rows, session_tz, resync_acc,
                  verify_digests), WARC_SCHEMA)


WARC_WRITE_SCHEMA = StructType([
    StructField("warc_path", StringType()),
    StructField("records", IntegerType()),
])


def write_warc(df: DataFrame, out_dir: str, records_per_file: int = 256,
               gzip_members: bool = True,
               overwrite: bool = False) -> DataFrame:
    """Re-emit a pages-shaped DataFrame (``url`` + ``html`` binary;
    ``warc_ts``/``http_status`` used when present) as WARC/1.0 response
    archives — the round-trip sink for filtered/deduped corpora, so a
    downstream crawler-toolchain consumer never leaves the archive
    format. Returns a lazy manifest DataFrame (warc_path, records);
    trigger it with an action. One writer task per input partition,
    ``records_per_file`` records per archive file (member-per-record
    gzip by default, read_warc's convention) — repartition the input to
    size files for the target store (e.g. ~1 GB, Common Crawl's
    convention).

    Files are written with local ``open()`` on each executor:
    ``out_dir`` must be a shared/posix path (local, NFS, fuse-mounted
    object store). Writing through the JVM's Hadoop-FS channel for raw
    s3a/hdfs URIs is deliberately out of scope here — Spark exposes no
    binary-file writer, and this sandbox can't exercise one. A
    non-posix ``out_dir`` scheme is refused EAGERLY (before any job
    runs) with the deployment recipe, rather than failing late on an
    executor ``open()``.

    Write protocol: each archive streams member-by-member to a HIDDEN
    temp file (``.part-…tmp`` — dot-prefixed names are invisible to
    binaryFile/Hadoop readers, so a dead job never pollutes reads) and
    is atomically ``os.replace``d to its final ``part-{partition}-
    {seq}`` name on completion, so a retried or speculative attempt
    can't interleave bytes — last complete attempt wins. ``out_dir``
    holding archives from a previous run is refused unless
    ``overwrite=True`` (stale higher-seq files would silently mix into
    a later read_warc). The manifest is lazy: a second action on it
    (or a cached/branched plan) re-executes the writes — same names,
    same atomic results, but duplicate manifest rows; run one action.
    WARC-Date is written as the UTC instant (session-timezone-aware)
    at WARC/1.0's second precision — sub-second warc_ts truncates.
    """
    import glob
    from urllib.parse import urlsplit

    # Eager scheme guard: executor-side open() would fail late and
    # confusingly on an object-store URI (and the driver-side stale-file
    # glob below would silently see nothing there). Refuse up front with
    # the deployment recipe — mirrors the Iceberg sink's refusal pattern.
    split = urlsplit(out_dir)
    remote = {"s3", "s3a", "s3n", "gs", "gcs", "hdfs", "abfs", "abfss",
              "wasb", "wasbs", "oss", "cos", "viewfs", "o3fs", "ofs"}
    if split.scheme == "file":
        # the URI's PATH, not a fixed-width prefix strip: 'file:/x',
        # 'file:///x' and 'file://localhost/x' all mean local /x
        if split.netloc not in ("", "localhost"):
            raise ValueError(
                f"write_warc: file:// host {split.netloc!r} is not this "
                "machine; mount the share and pass its local path")
        out_dir = split.path or "/"
    elif split.scheme in remote or (split.scheme
                                    and out_dir.startswith(
                                        split.scheme + "://")):
        # known Hadoop-FS schemes, or anything in URI authority form;
        # a relative posix path with a colon ('out:2026/x') stays a path
        raise ValueError(
            f"write_warc writes with local open(); out_dir scheme "
            f"'{split.scheme}://' is not a posix path. Deployment "
            "options: (a) mount the store (s3fs/goofys fuse, NFS) and "
            "pass the mount path; (b) write to local/scratch storage "
            "sized records_per_file for ~1 GB archives and upload with "
            "the store's bulk CLI after the manifest action completes.")

    has_ts = "warc_ts" in df.columns
    has_status = "http_status" in df.columns
    session_tz = df.sparkSession.conf.get("spark.sql.session.timeZone",
                                          "UTC")
    ext = ".warc.gz" if gzip_members else ".warc"
    existing = glob.glob(os.path.join(out_dir, "part-*" + ext))
    if existing:
        if not overwrite:
            raise ValueError(
                f"{out_dir} already holds {len(existing)} archives; pass "
                "overwrite=True to replace them (stale files from a prior "
                "run would otherwise mix into read_warc output)")
        for p in existing:
            os.remove(p)

    def gen(batches):
        import hashlib

        import pandas as pd
        from pyspark import TaskContext

        drop_zip_importers()
        os.makedirs(out_dir, exist_ok=True)
        tc = TaskContext.get()
        pid, attempt = tc.partitionId(), tc.taskAttemptId()
        state = {"seq": 0, "fh": None, "tmp": None, "n": 0, "rec_n": 0}

        def close_file():
            if state["fh"] is None:
                return []
            state["fh"].close()
            final = os.path.join(
                out_dir, f"part-{pid:05d}-{state['seq']:05d}{ext}")
            os.replace(state["tmp"], final)
            row = {"warc_path": final, "records": state["n"]}
            state["fh"] = None
            state["seq"] += 1
            return [row]

        def write_record(rec: bytes):
            if state["fh"] is None:
                state["tmp"] = os.path.join(
                    out_dir, f".part-{pid:05d}-{state['seq']:05d}"
                             f"{ext}.a{attempt}.tmp")
                state["fh"] = open(state["tmp"], "wb")
                state["n"] = 0
            state["fh"].write(gzip_compress(rec) if gzip_members else rec)
            state["n"] += 1

        manifest = []
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                ts = getattr(row, "warc_ts", None) if has_ts else None
                if ts is not None and not pd.isna(ts):
                    t = pd.Timestamp(ts)
                    if t.tzinfo is None:
                        # mapInPandas delivers session-local wall time;
                        # localize before claiming Z or the instant is
                        # off by the session offset on disk
                        try:
                            t = t.tz_localize(session_tz)
                        except Exception:
                            t = t.tz_localize("UTC")
                    date = t.tz_convert("UTC").strftime(
                        "%Y-%m-%dT%H:%M:%SZ")
                else:
                    date = "1970-01-01T00:00:00Z"
                status = (int(row.http_status) if has_status
                          and row.http_status is not None
                          and not pd.isna(row.http_status) else 200)
                html = bytes(row.html) if row.html is not None else b""
                # unique per record, not per url: repeated captures of
                # one url must not share a WARC-Record-ID
                rec_id = "<urn:md5:" + hashlib.md5(
                    f"{row.url}\x00{date}\x00{pid}\x00"
                    f"{state['rec_n']}".encode()).hexdigest() + ">"
                state["rec_n"] += 1
                # with_digest: emitted archives carry the per-record
                # integrity header, so a later corrupt-member recovery
                # on the read side can verify what it salvages
                write_record(build_warc_record(
                    build_http_response(html, status=status),
                    url=row.url, date=date, record_id=rec_id,
                    with_digest=True))
                if state["n"] >= records_per_file:
                    manifest.extend(close_file())
            if manifest:
                yield pd.DataFrame(manifest,
                                   columns=["warc_path", "records"])
                manifest = []
        manifest.extend(close_file())
        if manifest:
            yield pd.DataFrame(manifest, columns=["warc_path", "records"])
        drop_zip_importers()

    return df.mapInPandas(gen, WARC_WRITE_SCHEMA)
