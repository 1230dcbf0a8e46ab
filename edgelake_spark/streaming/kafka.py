"""Kafka wire protocol: a real producer/consumer client pair and an
in-process broker double, speaking genuine Kafka framing over TCP.

Reference: edge_lake/api/al_kafka.py (kafka-python-backed consumer) and
``run kafka consumer`` (edge_lake/cmd/member_cmd.py:21481). The
column-mapping/conditions/monitor stages live in streaming/broker.py;
this module supplies ONLY the socket transport — the same move
streaming/mqtt.py made for MQTT. Received record values are spooled as
text files that ``BrokerConsumer(source='text')`` streams — the single
``value``-column contract of a real Kafka source — so everything
downstream of the socket is the production path.

No Kafka client library or connector jar ships in this container, so
the codec is written here from the PUBLIC Kafka protocol guide
(kafka.apache.org/protocol): length-prefixed frames, request header v1,
and these api keys / versions:

  ApiVersions v0 (key 18)   — version handshake
  Metadata    v1 (key 3)    — broker + topic/partition discovery
  ListOffsets v1 (key 2)    — earliest (-2) / latest (-1) resolution
  Produce     v2 (key 0)    — MessageSet with message format v1
  Fetch       v2 (key 1)    — MessageSet with message format v1

Message format v1 carries a CRC32 (zlib) over magic..value and a
create timestamp — the pre-RecordBatch on-wire format every broker
still accepts on these api versions. QoS semantics: at-least-once via
acks=1 and offset-tracked fetches (offsets restart from the reset
policy on reconnect, like the reference's consumer)."""

from __future__ import annotations

import os
import socket
import struct
import threading
import time
import uuid
import zlib

from edgelake_spark.streaming.mqtt import Spooler, _recv_exact

API_PRODUCE, API_FETCH, API_LIST_OFFSETS, API_METADATA = 0, 1, 2, 3
API_VERSIONS = 18

EARLIEST, LATEST = -2, -1


# ----------------------------------------------------------- primitives


def _str(s: str | None) -> bytes:
    if s is None:
        return struct.pack(">h", -1)
    b = s.encode("utf-8")
    return struct.pack(">h", len(b)) + b


def _bytes(b: bytes | None) -> bytes:
    if b is None:
        return struct.pack(">i", -1)
    return struct.pack(">i", len(b)) + b


class _Reader:
    """Cursor over one decoded frame."""

    def __init__(self, buf: bytes):
        self.buf, self.off = buf, 0

    def _take(self, n: int) -> bytes:
        out = self.buf[self.off : self.off + n]
        if len(out) < n:
            raise ValueError("short frame")
        self.off += n
        return out

    def i8(self) -> int:
        return struct.unpack(">b", self._take(1))[0]

    def i16(self) -> int:
        return struct.unpack(">h", self._take(2))[0]

    def i32(self) -> int:
        return struct.unpack(">i", self._take(4))[0]

    def i64(self) -> int:
        return struct.unpack(">q", self._take(8))[0]

    def string(self) -> str | None:
        n = self.i16()
        return None if n < 0 else self._take(n).decode("utf-8")

    def raw_bytes(self) -> bytes | None:
        n = self.i32()
        return None if n < 0 else self._take(n)


def _frame(payload: bytes) -> bytes:
    return struct.pack(">i", len(payload)) + payload


def read_frame(sock: socket.socket) -> bytes:
    (n,) = struct.unpack(">i", _recv_exact(sock, 4))
    return _recv_exact(sock, n)


def request(api_key: int, api_version: int, correlation_id: int,
            client_id: str, body: bytes) -> bytes:
    head = struct.pack(">hhi", api_key, api_version, correlation_id) + _str(client_id)
    return _frame(head + body)


# -------------------------------------------------- message set (v1 fmt)


def encode_message(key: bytes | None, value: bytes | None, timestamp_ms: int) -> bytes:
    """Message format v1 (magic 1): crc over magic..value."""
    body = struct.pack(">bbq", 1, 0, timestamp_ms) + _bytes(key) + _bytes(value)
    return struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF) + body


def encode_message_set(entries: list[tuple[int, int, bytes | None, bytes | None]]) -> bytes:
    """entries: (offset, timestamp_ms, key, value) → on-wire MessageSet."""
    out = bytearray()
    for offset, ts, key, value in entries:
        msg = encode_message(key, value, ts)
        out += struct.pack(">qi", offset, len(msg)) + msg
    return bytes(out)


def decode_message_set(buf: bytes) -> list[tuple[int, int, bytes | None, bytes | None]]:
    """MessageSet → [(offset, timestamp_ms, key, value)]; verifies CRC,
    tolerates a trailing partial message (the broker may truncate at
    max_bytes — spec behavior the client must accept)."""
    out, off = [], 0
    while off + 12 <= len(buf):
        offset, size = struct.unpack(">qi", buf[off : off + 12])
        if off + 12 + size > len(buf):
            break  # partial trailing message
        msg = buf[off + 12 : off + 12 + size]
        (crc,) = struct.unpack(">I", msg[:4])
        if zlib.crc32(msg[4:]) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch at offset {offset}")
        r = _Reader(msg[4:])
        magic, _attrs = r.i8(), r.i8()
        ts = r.i64() if magic >= 1 else -1
        key, value = r.raw_bytes(), r.raw_bytes()
        out.append((offset, ts, key, value))
        off += 12 + size
    return out


# ---------------------------------------------------------------- broker


class KafkaBroker:
    """In-process broker double: one node, one partition per topic,
    in-memory log. Speaks the real wire protocol on the api versions in
    the module docstring, standing in for an external Kafka so
    round-trip tests need no daemon or jar (same role as MqttBroker)."""

    NODE_ID = 0

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        self._srv = socket.create_server((host, port))
        self.host, self.port = self._srv.getsockname()
        #: topic → list of (timestamp_ms, key, value); index == offset
        self.logs: dict[str, list[tuple[int, bytes | None, bytes | None]]] = {}
        self._lock = threading.Lock()
        self._alive = False

    def start(self) -> "KafkaBroker":
        self._alive = True
        threading.Thread(target=self._accept_loop, daemon=True).start()
        return self

    def stop(self) -> None:
        self._alive = False
        try:
            self._srv.close()
        except OSError:
            pass

    # ------------------------------------------------------- serving

    def _accept_loop(self) -> None:
        while self._alive:
            try:
                conn, _ = self._srv.accept()
            except OSError:
                return
            threading.Thread(target=self._session, args=(conn,), daemon=True).start()

    def _session(self, conn: socket.socket) -> None:
        try:
            while self._alive:
                frame = read_frame(conn)
                r = _Reader(frame)
                api_key, api_version, corr = r.i16(), r.i16(), r.i32()
                r.string()  # client_id
                handler = {
                    API_VERSIONS: self._api_versions,
                    API_METADATA: self._metadata,
                    API_LIST_OFFSETS: self._list_offsets,
                    API_PRODUCE: self._produce,
                    API_FETCH: self._fetch,
                }.get(api_key)
                if handler is None:
                    raise ValueError(f"unsupported api key {api_key}")
                body = handler(api_version, r)
                conn.sendall(_frame(struct.pack(">i", corr) + body))
        except (ConnectionError, OSError, ValueError, struct.error):
            pass
        finally:
            conn.close()

    def _api_versions(self, version: int, r: _Reader) -> bytes:
        supported = [(API_PRODUCE, 0, 2), (API_FETCH, 0, 2), (API_LIST_OFFSETS, 0, 1),
                     (API_METADATA, 0, 1), (API_VERSIONS, 0, 0)]
        out = struct.pack(">h", 0) + struct.pack(">i", len(supported))
        for key, lo, hi in supported:
            out += struct.pack(">hhh", key, lo, hi)
        return out

    def _metadata(self, version: int, r: _Reader) -> bytes:
        n = r.i32()
        names = [r.string() for _ in range(max(n, 0))]
        with self._lock:
            if n <= 0:  # null/empty array → all topics
                names = sorted(self.logs)
        out = struct.pack(">i", 1)  # brokers
        out += struct.pack(">i", self.NODE_ID) + _str(self.host) + struct.pack(">i", self.port)
        if version >= 1:
            out += _str(None)  # rack
            out += struct.pack(">i", self.NODE_ID)  # controller_id
        out += struct.pack(">i", len(names))
        for name in names:
            out += struct.pack(">h", 0) + _str(name)
            if version >= 1:
                out += struct.pack(">b", 0)  # is_internal
            # one partition, this node leads, replicas/isr = [0]
            out += struct.pack(">i", 1)
            out += struct.pack(">hii", 0, 0, self.NODE_ID)
            out += struct.pack(">ii", 1, self.NODE_ID) + struct.pack(">ii", 1, self.NODE_ID)
        return out

    def _list_offsets(self, version: int, r: _Reader) -> bytes:
        r.i32()  # replica_id
        n_topics = r.i32()
        out = struct.pack(">i", n_topics)
        for _ in range(n_topics):
            name = r.string()
            n_parts = r.i32()
            out += _str(name) + struct.pack(">i", n_parts)
            for _ in range(n_parts):
                part, ts = r.i32(), r.i64()
                if version == 0:
                    r.i32()  # max_num_offsets (v0 only)
                with self._lock:
                    log_len = len(self.logs.get(name, ()))
                offset = 0 if ts == EARLIEST else log_len
                if version == 0:
                    # v0: partition, error, [offsets] array
                    out += struct.pack(">ihi", part, 0, 1) + struct.pack(">q", offset)
                else:
                    # v1: partition, error, timestamp, offset
                    out += struct.pack(">ihqq", part, 0, -1, offset)
        return out

    def _produce(self, version: int, r: _Reader) -> bytes:
        acks = r.i16()
        r.i32()  # timeout
        n_topics = r.i32()
        out = struct.pack(">i", n_topics)
        for _ in range(n_topics):
            name = r.string()
            n_parts = r.i32()
            out += _str(name) + struct.pack(">i", n_parts)
            for _ in range(n_parts):
                part = r.i32()
                records = r.raw_bytes() or b""
                entries = decode_message_set(records)
                with self._lock:
                    log = self.logs.setdefault(name, [])
                    base = len(log)
                    for _off, ts, key, value in entries:
                        log.append((ts, key, value))
                out += struct.pack(">ihq", part, 0, base)
                if version >= 2:
                    out += struct.pack(">q", -1)  # log_append_time
        if version >= 1:
            out += struct.pack(">i", 0)  # throttle_time_ms
        return out

    def _fetch(self, version: int, r: _Reader) -> bytes:
        r.i32()  # replica_id
        r.i32()  # max_wait
        r.i32()  # min_bytes
        n_topics = r.i32()
        out = b""
        if version >= 1:
            out += struct.pack(">i", 0)  # throttle_time_ms
        out += struct.pack(">i", n_topics)
        for _ in range(n_topics):
            name = r.string()
            n_parts = r.i32()
            out += _str(name) + struct.pack(">i", n_parts)
            for _ in range(n_parts):
                part, offset = r.i32(), r.i64()
                max_bytes = r.i32()
                with self._lock:
                    log = list(self.logs.get(name, ()))
                if offset > len(log):  # real brokers answer a fetch
                    # past the log end with OFFSET_OUT_OF_RANGE (1),
                    # e.g. a committed offset that outlived a
                    # recreated/truncated topic
                    out += struct.pack(">ihq", part, 1, len(log)) + _bytes(b"")
                    continue
                entries = [
                    (i, ts, key, value)
                    for i, (ts, key, value) in enumerate(log)
                    if i >= offset
                ]
                msg_set = encode_message_set(entries)[: max(max_bytes, 0)]
                out += struct.pack(">ihq", part, 0, len(log)) + _bytes(msg_set)
        return out


# ---------------------------------------------------------------- client


class _Conn:
    """One broker connection with correlation-id bookkeeping."""

    def __init__(self, host: str, port: int, client_id: str):
        self.sock = socket.create_connection((host, port))
        self.client_id = client_id
        self._corr = 0

    def call(self, api_key: int, api_version: int, body: bytes) -> _Reader:
        self._corr += 1
        self.sock.sendall(request(api_key, api_version, self._corr, self.client_id, body))
        r = _Reader(read_frame(self.sock))
        corr = r.i32()
        if corr != self._corr:
            raise ConnectionError(f"correlation mismatch: {corr} != {self._corr}")
        return r

    def close(self) -> None:
        try:
            self.sock.close()
        except OSError:
            pass


class KafkaProducerClient:
    """Minimal producing client (the device side of the round trip):
    Produce v2, acks=1, one message set per publish call."""

    def __init__(self, host: str, port: int, client_id: str | None = None):
        self._conn = _Conn(host, port, client_id or f"pub-{uuid.uuid4().hex[:8]}")

    def produce(self, topic: str, values: list[bytes | str],
                key: bytes | None = None) -> int:
        """Send values as one batch; returns the base offset assigned."""
        ts = int(time.time() * 1000)
        entries = [
            (i, ts, key, v.encode("utf-8") if isinstance(v, str) else v)
            for i, v in enumerate(values)
        ]
        body = struct.pack(">hi", 1, 10_000)  # acks=1, timeout
        body += struct.pack(">i", 1) + _str(topic) + struct.pack(">i", 1)
        body += struct.pack(">i", 0) + _bytes(encode_message_set(entries))
        r = self._conn.call(API_PRODUCE, 2, body)
        n_topics = r.i32()
        base = -1
        for _ in range(n_topics):
            r.string()
            for _ in range(r.i32()):
                _part, err, base = r.i32(), r.i16(), r.i64()
                r.i64()  # log_append_time
                if err:
                    raise ConnectionError(f"produce error code {err}")
        return base

    def close(self) -> None:
        self._conn.close()


class KafkaWireConsumer(Spooler):
    """The ``run kafka consumer`` transport: Metadata discovery, reset
    resolution via ListOffsets (earliest/latest), then a Fetch v2 poll
    loop spooling each record value to ``spool_dir`` as a text file —
    the handoff point where BrokerConsumer's file source picks messages
    up as a single ``value`` column (same bridge as MqttSubscriber)."""

    def __init__(self, host: str, port: int, topic: str, spool_dir: str,
                 reset: str = "earliest", client_id: str | None = None,
                 poll_interval: float = 0.05):
        self.host, self.port, self.topic = host, port, topic
        self.spool_dir, self.reset = spool_dir, reset
        self.poll_interval = poll_interval
        self.client_id = client_id or f"edgelake-{uuid.uuid4().hex[:8]}"
        self.received = 0
        self.offset = 0
        self._conn: _Conn | None = None
        self._alive = False
        self._thread: threading.Thread | None = None

    # ------------------------------------------------------ handshake

    def _metadata(self) -> tuple[str, int]:
        """Topic discovery; returns the partition leader's (host, port)."""
        body = struct.pack(">i", 1) + _str(self.topic)
        r = self._conn.call(API_METADATA, 1, body)
        host, port = self.host, self.port
        for _ in range(r.i32()):  # brokers
            node, bhost, bport = r.i32(), r.string(), r.i32()
            r.string()  # rack
            if node == 0:
                host, port = bhost, bport
        r.i32()  # controller_id
        for _ in range(r.i32()):  # topics
            err, _name = r.i16(), r.string()
            if err:
                raise ConnectionError(f"metadata error {err} for {self.topic}")
            r.i8()  # is_internal
            for _ in range(r.i32()):  # partitions
                r.i16(), r.i32(), r.i32()
                for _ in range(r.i32()):
                    r.i32()
                for _ in range(r.i32()):
                    r.i32()
        return host, port

    def _resolve_reset(self) -> int:
        ts = EARLIEST if self.reset == "earliest" else LATEST
        body = struct.pack(">i", -1) + struct.pack(">i", 1) + _str(self.topic)
        body += struct.pack(">i", 1) + struct.pack(">iq", 0, ts)
        r = self._conn.call(API_LIST_OFFSETS, 1, body)
        offset = 0
        for _ in range(r.i32()):
            r.string()
            for _ in range(r.i32()):
                _part, err, _ts, offset = r.i32(), r.i16(), r.i64(), r.i64()
                if err:
                    raise ConnectionError(f"list offsets error {err}")
        return offset

    def _offset_file(self) -> str:
        return os.path.join(self.spool_dir, f".offset.{self.topic}")

    def _load_committed_offset(self) -> int | None:
        """Committed consumer position (the reference's kafka consumer
        commits offsets; here a tiny file in the spool dir) — a restart
        resumes where it left off instead of re-applying the reset
        policy and re-spooling the backlog."""
        try:
            with open(self._offset_file()) as fh:
                return int(fh.read().strip())
        except (OSError, ValueError):
            return None

    def _commit_offset(self) -> None:
        tmp = self._offset_file() + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(str(self.offset))
        os.rename(tmp, self._offset_file())  # atomic, torn-write safe

    def start(self) -> "KafkaWireConsumer":
        os.makedirs(self.spool_dir, exist_ok=True)
        self._conn = _Conn(self.host, self.port, self.client_id)
        self._metadata()
        committed = self._load_committed_offset()
        self.offset = committed if committed is not None else self._resolve_reset()
        self._alive = True
        self._thread = threading.Thread(target=self._poll_loop, daemon=True)
        self._thread.start()
        return self

    # ----------------------------------------------------------- poll

    def _fetch_once(self) -> int:
        body = struct.pack(">iii", -1, 100, 1)  # replica, max_wait_ms, min_bytes
        body += struct.pack(">i", 1) + _str(self.topic) + struct.pack(">i", 1)
        body += struct.pack(">iqi", 0, self.offset, 1 << 20)
        r = self._conn.call(API_FETCH, 2, body)
        r.i32()  # throttle
        got = 0
        for _ in range(r.i32()):
            r.string()
            for _ in range(r.i32()):
                _part, err, _hw = r.i32(), r.i16(), r.i64()
                records = r.raw_bytes() or b""
                if err == 1:  # OFFSET_OUT_OF_RANGE: the committed
                    # offset outlived the log (topic recreated or
                    # truncated under the spool dir) — re-apply the
                    # reset policy like a real consumer instead of
                    # letting the poll thread die silently
                    self.offset = self._resolve_reset()
                    self._commit_offset()
                    return 0
                if err:
                    raise ConnectionError(f"fetch error {err}")
                for offset, _ts, _key, value in decode_message_set(records):
                    if offset >= self.offset and value is not None:
                        self._spool(value)
                        self.offset = offset + 1
                        got += 1
        if got:
            # commit AFTER spooling: a crash between spool and commit
            # re-delivers (at-least-once), never skips
            self._commit_offset()
        return got

    def _poll_loop(self) -> None:
        while self._alive:
            try:
                if not self._fetch_once():
                    time.sleep(self.poll_interval)
            except (ConnectionError, OSError, ValueError, struct.error):
                return

    def stop(self) -> None:
        self._alive = False
        if self._conn is not None:
            self._conn.close()
