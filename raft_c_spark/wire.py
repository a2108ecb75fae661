r"""Wire protocol — the reference's RESP-like text framing
(src/encoding.h:16-23, src/encoding.c), byte-compatible:

- request:            ``$<len>\r\n<query>\r\n``
- string response:    ``$<len>\r\n<msg>\r\n`` (ok) / ``!<len>\r\n<msg>\r\n`` (error)
- record:             ``:<timestamp>\r\n;<value>\r\n``  (value as C "%lf",
                      6 fixed decimals — src/encoding.c:150)
- array response:     ``#<count>\r\n`` + records         (src/encoding.c:162-195)
- stream chunk:       ``~<count>\r\n`` + records + ``\r\n``; the final
                      chunk is followed by ``~0\r\n``    (src/encoding.c:199-232)

Requests are capped at QUERYSIZE=512 bytes like the reference
(src/encoding.h:10); responses are unbounded here (the reference's
fixed 512-byte response buffer silently fails on large results — a
limitation, not a semantic, so not replicated).

A small threaded TCP server (``serve``) exposes an Engine over this
protocol; ``WireClient`` is the matching client. Each connection's
handler thread runs its statements and streams point results to the
socket itself (``streaming.results.stream_results``); no other thread
or queue sits between the engine and the client. A result the engine
answered on the driver (``tsstore.Answer``: status and meta replies,
SELECTs over a small series) is encoded straight from its Arrow table;
a Spark result streams partition by partition.

Session semantics match the reference: the active database is
*server-global* (its dbcontext is one global hashtable with one active
entry, src/dbcontext.c:7,153-167, and the server is single-threaded),
so a ``USE`` from one connection changes it for all — preserved here
deliberately, one shared Engine across handler threads.
"""

from __future__ import annotations

import socket
import socketserver
import threading
from dataclasses import dataclass

QUERYSIZE = 512  # src/encoding.h:10
CRLF = b"\r\n"

MARKER_OK = ord("$")
MARKER_ERR = ord("!")
MARKER_STREAM = ord("~")
MARKER_ARRAY = ord("#")
MARKER_TS = ord(":")
MARKER_VAL = ord(";")


class WireError(ValueError):
    pass


class BadFrame(WireError):
    """A COMPLETE frame that can never parse (bad literal, invalid
    UTF-8, over-cap length) — as opposed to a WireError raised on a
    truncated buffer, which more bytes may repair. The server replies
    with an error frame and closes on BadFrame instead of waiting for
    bytes that cannot help."""


@dataclass(frozen=True)
class Request:
    query: str


@dataclass(frozen=True)
class StringResponse:
    message: str
    rc: int = 0  # 0 = success ('$'), nonzero = error ('!')


@dataclass(frozen=True)
class ArrayResponse:
    records: tuple[tuple[int, float], ...] = ()


@dataclass(frozen=True)
class StreamChunk:
    records: tuple[tuple[int, float], ...] = ()
    is_final: bool = False


Response = StringResponse | ArrayResponse | StreamChunk


def _fmt_value(v: float) -> bytes:
    return f"{v:.6f}".encode()  # C "%lf"


def encode_request(r: Request) -> bytes:
    q = r.query.encode()
    if len(q) >= QUERYSIZE:
        raise WireError(f"query exceeds QUERYSIZE ({QUERYSIZE})")
    return b"$" + str(len(q)).encode() + CRLF + q + CRLF


def decode_request(data: bytes) -> tuple[Request, int]:
    """→ (request, bytes consumed); mirrors decode_request's checks
    (src/encoding.c:74-123): leading '$', digit length line, exact
    length match, QUERYSIZE cap."""
    if not data or data[0] != MARKER_OK:
        raise WireError("bad request marker")
    length, pos = _read_int_line(data, 1)
    if length >= QUERYSIZE:
        raise BadFrame("request too long")
    end = pos + length
    if len(data) < end + len(CRLF):
        raise WireError("request length mismatch")
    if data[end : end + 2] != CRLF:
        # body is fully present but not CRLF-terminated: the declared
        # length lied, no further bytes can repair the frame
        raise BadFrame("request body not CRLF-terminated")
    try:
        query = data[pos:end].decode()
    except UnicodeDecodeError as e:
        raise BadFrame(f"request is not valid UTF-8: {e}") from e
    return Request(query), end + 2


def encode_response(r: Response) -> bytes:
    if isinstance(r, StringResponse):
        m = r.message.encode()
        marker = b"$" if r.rc == 0 else b"!"
        return marker + str(len(m)).encode() + CRLF + m + CRLF
    if isinstance(r, ArrayResponse):
        return b"#" + str(len(r.records)).encode() + CRLF + _records(r.records)
    if isinstance(r, StreamChunk):
        out = b"~" + str(len(r.records)).encode() + CRLF + _records(r.records) + CRLF
        return out + b"~0" + CRLF if r.is_final else out
    raise WireError(f"unknown response {r!r}")


def _records(records) -> bytes:
    return b"".join(
        b":%d\r\n;%s\r\n" % (int(ts), _fmt_value(v)) for ts, v in records
    )


def _read_int_line(data: bytes, pos: int) -> tuple[int, int]:
    n = 0
    ndigits = 0
    while pos < len(data) and data[pos : pos + 2] != CRLF:
        c = data[pos]
        if not (ord("0") <= c <= ord("9")):
            # a lone '\r' at end-of-buffer may be half of a CRLF a
            # later recv completes — still repairable. Any other
            # non-digit makes the frame permanently unparseable, so
            # BadFrame: without it a b'$1a\r\n' frame fell through to
            # the handler's need-more-bytes path and stalled the
            # connection accumulating up to 4x QUERYSIZE
            if c == ord("\r") and pos == len(data) - 1:
                raise WireError("truncated length line")
            raise BadFrame("bad digit in length")
        n = n * 10 + (c - ord("0"))
        ndigits += 1
        pos += 1
    if pos + 2 > len(data):
        raise WireError("truncated length line")
    if ndigits == 0:
        # the CRLF is fully present with NO digits before it (b"$\r\n")
        # — a complete frame no future recv can repair (like the
        # non-digit case above, it would otherwise stall the handler's
        # need-more-bytes path)
        raise BadFrame("empty length line")
    return n, pos + 2


def _read_records(data: bytes, pos: int, count: int):
    records = []
    for _ in range(count):
        if pos >= len(data) or data[pos] != MARKER_TS:
            raise WireError("expected ':' timestamp marker")
        line_end = data.find(CRLF, pos)
        if line_end < 0:
            raise WireError("truncated timestamp")
        try:
            ts = int(data[pos + 1 : line_end])
        except ValueError as e:
            raise WireError(f"bad timestamp literal: {e}") from e
        pos = line_end + 2
        if pos >= len(data) or data[pos] != MARKER_VAL:
            raise WireError("expected ';' value marker")
        line_end = data.find(CRLF, pos)
        if line_end < 0:
            raise WireError("truncated value")
        try:
            v = float(data[pos + 1 : line_end])
        except ValueError as e:
            raise WireError(f"bad value literal: {e}") from e
        pos = line_end + 2
        records.append((ts, v))
    return tuple(records), pos


def decode_response(data: bytes) -> tuple[Response, int]:
    """→ (response, bytes consumed). A stream chunk decodes one chunk
    at a time (call repeatedly; a ``~0`` terminator yields
    ``StreamChunk((), is_final=True)``)."""
    if not data:
        raise WireError("empty response")
    marker = data[0]
    if marker in (MARKER_OK, MARKER_ERR):
        length, pos = _read_int_line(data, 1)
        end = pos + length
        if len(data) < end + 2 or data[end : end + 2] != CRLF:
            raise WireError("string length mismatch")
        try:
            message = data[pos:end].decode()
        except UnicodeDecodeError as e:
            raise WireError(f"response is not valid UTF-8: {e}") from e
        return (
            StringResponse(message, rc=0 if marker == MARKER_OK else 1),
            end + 2,
        )
    if marker == MARKER_ARRAY:
        count, pos = _read_int_line(data, 1)
        records, pos = _read_records(data, pos, count)
        return ArrayResponse(records), pos
    if marker == MARKER_STREAM:
        count, pos = _read_int_line(data, 1)
        if count == 0:
            return StreamChunk((), is_final=True), pos
        records, pos = _read_records(data, pos, count)
        if data[pos : pos + 2] != CRLF:
            raise WireError("missing chunk terminator")
        return StreamChunk(records), pos + 2
    raise WireError(f"bad response marker {chr(marker)!r}")


# ---------------------------------------------------------------------------
# server / client
# ---------------------------------------------------------------------------


class _Handler(socketserver.StreamRequestHandler):
    def handle(self):
        engine = self.server.engine  # type: ignore[attr-defined]
        buf = b""
        while True:
            chunk = self.request.recv(4096)
            if not chunk:
                return
            buf += chunk
            while True:
                try:
                    req, used = decode_request(buf)
                except BadFrame:
                    # complete frame that can never parse (invalid
                    # UTF-8 body, over-cap length): reject now rather
                    # than waiting for bytes that cannot repair it
                    self.wfile.write(
                        encode_response(StringResponse("bad request", rc=1))
                    )
                    return
                except WireError:
                    if buf and not buf.startswith(b"$"):
                        # a request must open with '$' — no amount of
                        # further bytes can repair this frame, so
                        # answer and close instead of blocking both
                        # ends until 2 KB of garbage accumulates
                        self.wfile.write(
                            encode_response(StringResponse("bad request", rc=1))
                        )
                        return
                    if len(buf) > 4 * QUERYSIZE:
                        self.wfile.write(
                            encode_response(StringResponse("bad request", rc=1))
                        )
                        return
                    break  # need more bytes
                buf = buf[used:]
                self._run(engine, req)

    def _run(self, engine, req: Request) -> None:
        try:
            df = engine.execute(req.query)
            cols = df.columns
            if cols == ["timestamp", "value"]:
                # point results: ≤1000-record chunks (ts_stream
                # framing); a Spark result is written as its partitions
                # are fetched, so the driver holds one partition and one
                # chunk, never the full result. The ~0 terminator rides
                # on the LAST data chunk (src/encoding.c:221-226): a
                # separate empty final chunk would emit a stray
                # \r\n~0\r\n that poisons the client's buffer, so one
                # batch of lookahead tells which chunk is last.
                from raft_c_spark.streaming.results import (
                    STREAM_BATCH_SIZE,
                    stream_results,
                )

                batches = stream_results(df, STREAM_BATCH_SIZE)
                prev = next(batches, None)
                if prev is None:
                    self.wfile.write(encode_response(ArrayResponse(())))
                    return
                for batch in batches:
                    self.wfile.write(encode_response(StreamChunk(prev)))
                    prev = batch
                self.wfile.write(encode_response(StreamChunk(prev, is_final=True)))
            else:
                rows = df.collect()
                msg = "; ".join(
                    ",".join(str(r[c]) for c in cols) for r in rows
                ) or "OK"
                self.wfile.write(encode_response(StringResponse(msg)))
        except Exception as e:  # noqa: BLE001 - protocol surface
            self.wfile.write(
                encode_response(StringResponse(str(e)[:400], rc=1))
            )


class WireServer(socketserver.ThreadingTCPServer):
    allow_reuse_address = True
    daemon_threads = True

    def __init__(self, engine, host: str = "127.0.0.1", port: int = 0):
        super().__init__((host, port), _Handler)
        self.engine = engine

    def shutdown(self) -> None:
        """Stop ``serve_forever`` at once, not at its next 0.5 s poll:
        shutting the listening socket's read side wakes its ``select``
        (and fails its ``accept``), so the loop sees the stop request
        now. Where a platform refuses that, the poll still stops it."""
        try:
            self.socket.shutdown(socket.SHUT_RD)
        except OSError:
            pass
        super().shutdown()


def serve(engine, host: str = "127.0.0.1", port: int = 0) -> WireServer:
    """Start the protocol server in a daemon thread; returns the server
    (``server.server_address`` has the bound port)."""
    server = WireServer(engine, host, port)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server


def serve_from_config(engine, conf_path: str | None = None) -> WireServer:
    """Start the server at the conf file's ``host`` address — the
    reference's ``raft-c -c node.conf`` startup path (server.c:283-345
    reads the config, binds config_get("host"), and logs it). Cluster
    keys in the file are accepted and ignored (sharding/replication
    excluded by design)."""
    from raft_c_spark.config import load as load_config

    host, port = load_config(conf_path).host_port()
    return serve(engine, host, port)


class WireClient:
    def __init__(self, host: str, port: int):
        self.sock = socket.create_connection((host, port))
        self._buf = b""

    def _recv_one(self) -> Response:
        while True:
            try:
                resp, used = decode_response(self._buf)
                self._buf = self._buf[used:]
                return resp
            except WireError:
                chunk = self.sock.recv(4096)
                if not chunk:
                    raise WireError("connection closed") from None
                self._buf += chunk

    def execute(self, query: str):
        """Send one query; returns a StringResponse (status / error) or
        a list of (ts, value) records for point results — the SAME
        shape whether the result is empty or streamed (an empty point
        result arrives as an ArrayResponse, a non-empty one as stream
        chunks; both come back as a list, so ``len(...)`` works on
        either)."""
        self.sock.sendall(encode_request(Request(query)))
        first = self._recv_one()
        if isinstance(first, ArrayResponse):
            return list(first.records)
        if not isinstance(first, StreamChunk):
            return first
        records = list(first.records)
        while not first.is_final:
            nxt = self._recv_one()
            if not isinstance(nxt, StreamChunk):
                # server failure mid-stream (the handler's except wrote
                # an error response between chunks): surface the actual
                # message instead of AttributeError on .records, and
                # drop the now-desynchronized buffer
                self._buf = b""
                msg = getattr(nxt, "message", repr(nxt))
                raise WireError(f"server error mid-stream: {msg}")
            records.extend(nxt.records)
            first = nxt
        return records

    def close(self) -> None:
        self.sock.close()
