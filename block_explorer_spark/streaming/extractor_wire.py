"""Extractor-side record-stream wire protocol (the ingest edge).

The reference's extractor pulls records from a heavy-node gRPC
exporter: `RecordExporter.Export(GetRecords{PulseNumber, RecordNumber,
Count})` returns a server stream of `Record` envelopes; the client
loops PORTIONS of `Count` (production batch 100 —
configuration/configuration.go:63-73), resumes a portion after
transport errors by re-requesting with RecordNumber = records already
received, and detects end-of-pulse via `ShouldIterateFrom` / a record
from a later pulse (etl/extractor/platform_impl.go:225-326). Client
retry taxonomy (platform_impl.go:149-189, 258-300):

  version error      -> shut down the explorer (isVersionError)
  rate limit         -> sleep half a pulse, reopen the stream
  not-found / not-final-pulse -> sleep, re-poll (pulse not done yet)
  anything else      -> sleep 1s, retry

This module implements that protocol over the same hand-rolled proto3
codec + 5-byte gRPC message framing as exporter_wire.py (grpcio is
unavailable here, so plain TCP stands in for the HTTP/2 transport —
the MESSAGE bytes are what a gRPC peer would see inside DATA frames).
Three deliberate substitutions, each at the layer the environment
forces, none in the loop semantics:

  1. transport: TCP instead of HTTP/2 (same substitution, same
     rationale, as exporter_wire.py:1-28).
  2. gRPC metadata headers (the platform-version handshake,
     platform_impl.go:349-352) ride a leading Handshake message on
     each connection instead of HTTP/2 HEADERS.
  3. gRPC status trailers become STATUS FRAMES: framing flag byte
     0x02 + a Status{code, message} payload. The reference matches
     taxonomy by SUBSTRING of the error message
     (platform_impl.go:354-364), which this client reproduces.

Field numbering: the envelope messages follow the insolar platform
convention visible in the reference's own generated code — Polymorph
at field 16, payload fields from 20 (etl/exporter/record_exporter.pb.go:33).
The nested record payload (insolar's `record.Material`, a deeply
nested gogoproto union whose byte-exact layout lives in the platform
repo, not the reference) is carried as THIS engine's canonical raw
record message (`RawRecordMsg`, fields 1-12 mapping schemas.RAW_RECORDS);
a deployment against a real heavy node swaps `RawRecordMsg` for the
platform decoder and keeps everything else.
"""

from __future__ import annotations

import socket
import socketserver
import struct
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from .exporter_wire import (
    _WIRE_LEN,
    _WIRE_VARINT,
    _key,
    _skip_field,
    decode_uvarint,
    encode_uvarint,
)

# ---------------------------------------------------------------------------
# reference error strings (the client taxonomy matches by substring,
# platform_impl.go:354-364; exporter.RateLimitExceededMsg and
# pulse.ErrNotFound.Error() from the insolar platform)
# ---------------------------------------------------------------------------

RATE_LIMIT_MSG = "rate limit exceeded"
NOT_FOUND_MSG = "not found"
NOT_FINAL_PULSE_MSG = "trying to get not finalized pulse data"
DEPRECATED_CLIENT_MSG = "your client version was deprecated"

#: gRPC status codes for the taxonomy (public gRPC numbering)
STATUS_OK = 0
STATUS_NOT_FOUND = 5
STATUS_RESOURCE_EXHAUSTED = 8
STATUS_FAILED_PRECONDITION = 9

#: platform handshake values (platform_impl.go:23,349-352)
PLATFORM_API_VERSION = "2"
CLIENT_TYPE_HEAVY = "validate_heavy_version"

# ---------------------------------------------------------------------------
# framing: data frames (flag 0x00) as in exporter_wire; STATUS frames
# (flag 0x02) stand in for gRPC status trailers on the TCP transport
# ---------------------------------------------------------------------------

_FLAG_DATA = 0x00
_FLAG_STATUS = 0x02


class WireStatusError(Exception):
    """A non-OK status frame, carrying the gRPC-style code+message."""

    def __init__(self, code: int, message: str) -> None:
        super().__init__(f"status {code}: {message}")
        self.code = code
        self.message = message


def is_rate_limit(err: Exception) -> bool:
    return RATE_LIMIT_MSG in str(err)


def is_not_found(err: Exception) -> bool:
    s = str(err)
    return NOT_FOUND_MSG in s or NOT_FINAL_PULSE_MSG in s


def is_version_error(err: Exception) -> bool:
    s = str(err)
    return (
        DEPRECATED_CLIENT_MSG in s
        or "unknown heavy-version" in s
        or "unknown type client" in s
        or "incorrect format of the heavy-version" in s
    )


def _frame(payload: bytes, flag: int = _FLAG_DATA) -> bytes:
    return bytes([flag]) + struct.pack(">I", len(payload)) + payload


def _read_frame(rfile) -> tuple[int, bytes] | None:
    """(flag, payload) or None on clean EOF at a frame boundary."""
    header = rfile.read(5)
    if not header:
        return None
    if len(header) < 5:
        raise ValueError("truncated frame header")
    flag, length = header[0], struct.unpack(">I", header[1:5])[0]
    payload = rfile.read(length)
    if len(payload) < length:
        raise ValueError("truncated frame payload")
    return flag, payload


# ---------------------------------------------------------------------------
# messages
# ---------------------------------------------------------------------------


def _put_uint32(out: bytearray, fnum: int, val: int) -> None:
    if val:  # proto3 zero-value omission
        out += _key(fnum, _WIRE_VARINT) + encode_uvarint(val & 0xFFFFFFFF)


def _put_bytes(out: bytearray, fnum: int, val: bytes | None) -> None:
    if val is not None and len(val):
        out += _key(fnum, _WIRE_LEN) + encode_uvarint(len(val)) + val


def _read_len(buf: bytes, pos: int) -> tuple[bytes, int]:
    ln, pos = decode_uvarint(buf, pos)
    if pos + ln > len(buf):
        raise ValueError("truncated bytes field")
    return buf[pos : pos + ln], pos + ln


@dataclass
class Status:
    """Stand-in payload of a status frame: code=1, message=2."""

    code: int = 0
    message: str = ""

    def encode(self) -> bytes:
        out = bytearray()
        _put_uint32(out, 1, self.code)
        _put_bytes(out, 2, self.message.encode())
        return bytes(out)

    @classmethod
    def decode(cls, buf: bytes) -> "Status":
        msg = cls()
        pos = 0
        while pos < len(buf):
            tag, pos = decode_uvarint(buf, pos)
            fnum, wt = tag >> 3, tag & 7
            if fnum == 1 and wt == _WIRE_VARINT:
                msg.code, pos = decode_uvarint(buf, pos)
            elif fnum == 2 and wt == _WIRE_LEN:
                raw, pos = _read_len(buf, pos)
                msg.message = raw.decode()
            else:
                pos = _skip_field(buf, pos, wt)
        return msg


@dataclass
class Handshake:
    """Connection preamble standing in for gRPC metadata headers:
    KeyClientType=1, KeyClientVersionHeavy=2 (platform_impl.go:349-352)."""

    client_type: str = CLIENT_TYPE_HEAVY
    heavy_version: str = PLATFORM_API_VERSION

    def encode(self) -> bytes:
        out = bytearray()
        _put_bytes(out, 1, self.client_type.encode())
        _put_bytes(out, 2, self.heavy_version.encode())
        return bytes(out)

    @classmethod
    def decode(cls, buf: bytes) -> "Handshake":
        msg = cls(client_type="", heavy_version="")
        pos = 0
        while pos < len(buf):
            tag, pos = decode_uvarint(buf, pos)
            fnum, wt = tag >> 3, tag & 7
            if fnum == 1 and wt == _WIRE_LEN:
                raw, pos = _read_len(buf, pos)
                msg.client_type = raw.decode()
            elif fnum == 2 and wt == _WIRE_LEN:
                raw, pos = _read_len(buf, pos)
                msg.heavy_version = raw.decode()
            else:
                pos = _skip_field(buf, pos, wt)
        return msg


@dataclass
class GetRecords:
    """exporter.GetRecords: Polymorph=16; PulseNumber=20,
    RecordNumber=21, Count=22 (all uint32 varints; insolar field
    convention — Polymorph 16, payload from 20, cf.
    etl/exporter/record_exporter.pb.go:33)."""

    pulse_number: int = 0
    record_number: int = 0
    count: int = 0
    polymorph: int = 0

    def encode(self) -> bytes:
        out = bytearray()
        _put_uint32(out, 16, self.polymorph)
        _put_uint32(out, 20, self.pulse_number)
        _put_uint32(out, 21, self.record_number)
        _put_uint32(out, 22, self.count)
        return bytes(out)

    @classmethod
    def decode(cls, buf: bytes) -> "GetRecords":
        msg = cls()
        pos = 0
        while pos < len(buf):
            tag, pos = decode_uvarint(buf, pos)
            fnum, wt = tag >> 3, tag & 7
            if wt == _WIRE_VARINT and fnum in (16, 20, 21, 22):
                v, pos = decode_uvarint(buf, pos)
                if fnum == 16:
                    msg.polymorph = v
                elif fnum == 20:
                    msg.pulse_number = v
                elif fnum == 21:
                    msg.record_number = v
                else:
                    msg.count = v
            else:
                pos = _skip_field(buf, pos, wt)
        return msg


#: (field number, raw-row key, kind) for RawRecordMsg — the engine's
#: canonical encoding of one schemas.RAW_RECORDS row (the stand-in for
#: insolar record.Material; see module docstring). `bytes?` fields use
#: field PRESENCE for NULL (prev_record_reference of a chain head).
_RAW_FIELDS = (
    (1, "reference", "bytes"),
    (2, "kind", "str"),
    (3, "object_reference", "bytes"),
    (4, "prototype_reference", "bytes"),
    (5, "payload", "bytes"),
    (6, "prev_record_reference", "bytes?"),
    (7, "hash", "bytes"),
    (8, "raw_data", "bytes"),
    (9, "jet_id", "str"),
    (10, "pulse_number", "int"),
    (11, "timestamp", "int"),
    (12, "position", "int"),
    # FullPulse chain links ride each record (the gRPC source delivers
    # pulse metadata alongside records — platform_pulse.go:43-57);
    # absent = unknown, and pipeline._pulses_table falls back to cadence
    (13, "prev_pulse_number", "int?"),
    (14, "next_pulse_number", "int?"),
)


def encode_raw_record(row: dict) -> bytes:
    out = bytearray()
    for fnum, key, kind in _RAW_FIELDS:
        v = row.get(key)
        if v is None:
            continue
        if kind == "int?":
            # presence carries non-NULL even for zero values
            out += _key(fnum, _WIRE_VARINT) + encode_uvarint(int(v) & 0xFFFFFFFFFFFFFFFF)
        elif kind == "int":
            if v:
                out += _key(fnum, _WIRE_VARINT) + encode_uvarint(int(v) & 0xFFFFFFFFFFFFFFFF)
        else:
            b = v.encode() if isinstance(v, str) else bytes(v)
            # explicit zero-length keeps b"" != NULL for `bytes?`
            out += _key(fnum, _WIRE_LEN) + encode_uvarint(len(b)) + b
    return bytes(out)


def decode_raw_record(buf: bytes) -> dict:
    by_num = {fnum: (key, kind) for fnum, key, kind in _RAW_FIELDS}
    row: dict = {}
    pos = 0
    while pos < len(buf):
        tag, pos = decode_uvarint(buf, pos)
        fnum, wt = tag >> 3, tag & 7
        spec = by_num.get(fnum)
        if spec is None:
            pos = _skip_field(buf, pos, wt)
            continue
        key, kind = spec
        if kind in ("int", "int?") and wt == _WIRE_VARINT:
            v, pos = decode_uvarint(buf, pos)
            row[key] = v - (1 << 64) if v >= (1 << 63) else v
        elif kind in ("str", "bytes", "bytes?") and wt == _WIRE_LEN:
            raw, pos = _read_len(buf, pos)
            row[key] = raw.decode() if kind == "str" else raw
        else:
            pos = _skip_field(buf, pos, wt)
    for fnum, key, kind in _RAW_FIELDS:
        if key in row:
            continue
        if kind == "int":
            row[key] = 0
        elif kind in ("bytes?", "int?"):
            row[key] = None  # absent = NULL (chain head / unknown link)
        else:
            row[key] = "" if kind == "str" else b""
    return row


@dataclass
class RecordEnvelope:
    """exporter.Record envelope: Polymorph=16; RecordNumber=20,
    Record=21 (nested RawRecordMsg bytes), ShouldIterateFrom=22
    (optional uint32 — field presence carries the nil pointer the
    client's resume check relies on, platform_impl.go:308-316)."""

    record_number: int = 0
    record: dict = field(default_factory=dict)
    should_iterate_from: int | None = None
    polymorph: int = 0

    def encode(self) -> bytes:
        out = bytearray()
        _put_uint32(out, 16, self.polymorph)
        _put_uint32(out, 20, self.record_number)
        inner = encode_raw_record(self.record)
        out += _key(21, _WIRE_LEN) + encode_uvarint(len(inner)) + inner
        if self.should_iterate_from is not None:
            # explicit even when zero: presence IS the signal
            out += _key(22, _WIRE_VARINT) + encode_uvarint(
                self.should_iterate_from & 0xFFFFFFFF
            )
        return bytes(out)

    @classmethod
    def decode(cls, buf: bytes) -> "RecordEnvelope":
        msg = cls()
        pos = 0
        while pos < len(buf):
            tag, pos = decode_uvarint(buf, pos)
            fnum, wt = tag >> 3, tag & 7
            if fnum == 16 and wt == _WIRE_VARINT:
                msg.polymorph, pos = decode_uvarint(buf, pos)
            elif fnum == 20 and wt == _WIRE_VARINT:
                msg.record_number, pos = decode_uvarint(buf, pos)
            elif fnum == 21 and wt == _WIRE_LEN:
                raw, pos = _read_len(buf, pos)
                msg.record = decode_raw_record(raw)
            elif fnum == 22 and wt == _WIRE_VARINT:
                v, pos = decode_uvarint(buf, pos)
                msg.should_iterate_from = v
            else:
                pos = _skip_field(buf, pos, wt)
        return msg


# ---------------------------------------------------------------------------
# the heavy-node stand-in server (test/heavymock/exporter_impl.go
# pattern: serve a tape of records per pulse; always close the pulse
# with a next-pulse marker record so the client's end-of-pulse check
# fires — GenerateRecordInNextPulse analog)
# ---------------------------------------------------------------------------


class HeavyRecordServer:
    """RecordExporter.Export over TCP. Per connection: one Handshake
    frame, one GetRecords frame in; up to Count record envelopes out;
    a ShouldIterateFrom marker once the pulse's tape is exhausted.

    `tape` maps pulse_number -> list of raw-record dicts
    (schemas.RAW_RECORDS keys). Fault injection for the client retry
    taxonomy: `fail_plan` is a list of (code, message) statuses the
    server pops and sends INSTEAD of data, one per Export call —
    exactly how a flaky heavy node rations requests; `fail_after`
    sends the next planned failure mid-stream after that many records
    (exercises the RecordNumber resume)."""

    def __init__(
        self,
        tape: dict[int, list[dict]],
        host: str = "127.0.0.1",
        port: int = 0,
        validate_version: bool = True,
    ) -> None:
        self._tape = {int(k): list(v) for k, v in tape.items()}
        self._pulses = sorted(self._tape)
        self._validate_version = validate_version
        self._expected_version = PLATFORM_API_VERSION  # pinned at start
        self.fail_plan: list[tuple[int, str]] = []
        self.fail_after: int | None = None
        self.export_calls = 0
        self._lock = threading.Lock()
        outer = self

        class _Handler(socketserver.StreamRequestHandler):
            def handle(self) -> None:  # pragma: no cover - thin shim
                outer._serve(self)

        class _Server(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        self._server = _Server((host, port), _Handler)
        self.address = self._server.server_address
        self._thread = threading.Thread(
            target=self._server.serve_forever,
            kwargs={"poll_interval": 0.05},
            daemon=True,
        )

    def start(self) -> "HeavyRecordServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=5)

    def __enter__(self) -> "HeavyRecordServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()

    # -- per-connection ------------------------------------------------------
    def _next_pulse_after(self, pn: int) -> int:
        for p in self._pulses:
            if p > pn:
                return p
        return pn + 10  # heavymock's synthetic next pulse

    def _pop_failure(self) -> tuple[int, str] | None:
        with self._lock:
            if self.fail_plan:
                return self.fail_plan.pop(0)
        return None

    def _serve(self, handler: socketserver.StreamRequestHandler) -> None:
        def send(payload: bytes, flag: int = _FLAG_DATA) -> bool:
            try:
                handler.wfile.write(_frame(payload, flag))
                handler.wfile.flush()
                return True
            except (BrokenPipeError, ConnectionResetError, OSError):
                return False

        fr = _read_frame(handler.rfile)
        if fr is None:
            return
        hs = Handshake.decode(fr[1])
        if self._validate_version and hs.heavy_version != self._expected_version:
            send(
                Status(
                    STATUS_FAILED_PRECONDITION,
                    f"{DEPRECATED_CLIENT_MSG}, the minimal version is "
                    f"{self._expected_version}",
                ).encode(),
                _FLAG_STATUS,
            )
            return
        fr = _read_frame(handler.rfile)
        if fr is None:
            return
        req = GetRecords.decode(fr[1])
        with self._lock:
            self.export_calls += 1
            fail_after = self.fail_after
            self.fail_after = None

        if fail_after is None:
            planned = self._pop_failure()
            if planned is not None:
                send(Status(*planned).encode(), _FLAG_STATUS)
                return

        if req.pulse_number not in self._tape:
            send(
                Status(STATUS_NOT_FOUND, f"pulse {NOT_FOUND_MSG}").encode(),
                _FLAG_STATUS,
            )
            return

        rows = self._tape[req.pulse_number]
        lo = min(req.record_number, len(rows))
        portion = rows[lo : lo + req.count] if req.count else rows[lo:]
        sent = 0
        for i, row in enumerate(portion):
            if fail_after is not None and sent >= fail_after:
                planned = self._pop_failure() or (
                    STATUS_RESOURCE_EXHAUSTED,
                    RATE_LIMIT_MSG,
                )
                send(Status(*planned).encode(), _FLAG_STATUS)
                return
            if not send(
                RecordEnvelope(record_number=lo + i, record=row).encode()
            ):
                return
            sent += 1
        if lo + sent >= len(rows):
            # pulse exhausted: next-pulse marker with ShouldIterateFrom
            nxt = self._next_pulse_after(req.pulse_number)
            marker = {
                "reference": b"\x00" * 8,
                "kind": "result",
                "pulse_number": nxt,
                "jet_id": "",
                "timestamp": 0,
                "position": 0,
            }
            send(
                RecordEnvelope(
                    record_number=lo + sent,
                    record=marker,
                    should_iterate_from=nxt,
                ).encode()
            )
        send(Status(STATUS_OK, "").encode(), _FLAG_STATUS)


# ---------------------------------------------------------------------------
# the client (platform_impl.go:225-326 loop, minus goroutines: Spark
# parallelism lives in the DataFrame jobs, not the fetch threads)
# ---------------------------------------------------------------------------


def _export_once(
    addr: tuple[str, int],
    req: GetRecords,
    timeout: float,
    heavy_version: str | None = None,
) -> tuple[list[RecordEnvelope], Status | None]:
    """One Export stream: (envelopes, trailing status|None-on-EOF)."""
    if heavy_version is None:
        heavy_version = PLATFORM_API_VERSION
    with socket.create_connection(addr, timeout=timeout) as sock:
        sock.sendall(_frame(Handshake(heavy_version=heavy_version).encode()))
        sock.sendall(_frame(req.encode()))
        rfile = sock.makefile("rb")
        out: list[RecordEnvelope] = []
        while True:
            fr = _read_frame(rfile)
            if fr is None:
                return out, None
            flag, payload = fr
            if flag == _FLAG_STATUS:
                return out, Status.decode(payload)
            out.append(RecordEnvelope.decode(payload))


def retrieve_pulse_records(
    addr: tuple[str, int],
    pulse_number: int,
    batch_size: int = 100,
    backoff: float = 0.05,
    max_attempts: int = 50,
    timeout: float = 30.0,
) -> tuple[list[dict], int]:
    """All records of one pulse over the wire, portion by portion.

    Mirrors retrieveRecords (platform_impl.go:225-326): each portion
    re-requests with RecordNumber = len(accumulated) so a stream cut
    by rate-limiting resumes exactly where it stopped; rate-limit
    sleeps `backoff` (the half-pulse analog), not-found / not-final
    sleeps 2x, version errors propagate (the reference shuts the
    whole explorer down), other errors sleep 1x and retry. Returns
    (raw rows, iterate_from) — the pulse to ask for next.
    """
    acc: list[dict] = []
    attempts = 0
    while True:
        attempts += 1
        if attempts > max_attempts:
            raise TimeoutError(
                f"pulse {pulse_number}: no end-of-pulse after {max_attempts} portions"
            )
        try:
            req = GetRecords(
                pulse_number=pulse_number,
                record_number=len(acc),
                count=batch_size,
            )
            envs, status = _export_once(addr, req, timeout)
        except OSError:
            time.sleep(backoff)
            continue
        done_status = status is not None and status.code != STATUS_OK
        if done_status and is_version_error(WireStatusError(status.code, status.message)):
            raise WireStatusError(status.code, status.message)
        for env in envs:
            if (
                env.should_iterate_from is not None
                or env.record.get("pulse_number") != pulse_number
            ):
                # end of pulse: marker not ingested (the reference
                # returns before appending, platform_impl.go:308-316)
                itf = env.should_iterate_from
                if itf is None:
                    itf = env.record.get("pulse_number")
                return acc, int(itf)
            acc.append(env.record)
        if done_status:
            err = WireStatusError(status.code, status.message)
            if is_rate_limit(err):
                time.sleep(backoff)  # half-pulse analog
            elif is_not_found(err):
                time.sleep(backoff * 2)
            else:
                time.sleep(backoff)
            continue
        # clean portion end without marker: ask for the next portion


def wire_ingest(
    spark: SparkSession,
    base: str,
    addr: tuple[str, int],
    pulses: list[int],
    batch_size: int = 100,
    backoff: float = 0.05,
) -> int:
    """Ingest the given pulses over the wire into the parquet store.

    Serial pulse loop with ShouldIterateFrom skip (the maxWorkers<=3
    hack, platform_impl.go:195-214: when the exporter says 'iterate
    from P', pulses before P are known-empty and their record fetch is
    skipped). Each pulse's rows go through the standard ingest_batch
    (transform, chain sort, idempotent MERGE), then one control pass
    flips completeness/sequential flags. Returns pulses ingested.
    """
    from block_explorer_spark import schemas
    from . import pipeline as P

    sif: int | None = None
    n = 0
    for pn in sorted(pulses):
        if sif is not None and pn < sif:
            continue  # exporter told us to iterate from later
        rows, itf = retrieve_pulse_records(
            addr, pn, batch_size=batch_size, backoff=backoff
        )
        sif = itf
        if not rows:
            continue
        raw = spark.createDataFrame(rows, schemas.RAW_RECORDS)
        P.ingest_batch(spark, base, raw)
        n += 1
    P.run_control_pass(spark, base)
    return n
