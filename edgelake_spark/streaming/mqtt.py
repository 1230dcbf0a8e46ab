"""MQTT 3.1.1 transport: a real subscriber client and an in-process
broker double, both speaking genuine MQTT wire framing over TCP.

Reference: edge_lake/tcpip/mqtt_client.py:2128-2318 (paho-backed
subscribe + per-column bring mapping) and edge_lake/tcpip/message_server.py
(the node's local broker). The column-mapping/conditions/monitor stages
already live in streaming/broker.py; this module supplies ONLY the
missing socket transport. Received PUBLISH payloads are spooled as text
files that ``BrokerConsumer(source='text')`` streams — the same single
``value``-column contract a Kafka source provides, so everything
downstream of the socket is the production path.

No MQTT library ships in this container, so the wire codec is written
here from the public OASIS MQTT 3.1.1 spec (control-packet framing,
remaining-length varints, QoS 0/1, topic filters with ``+``/``#``).
It interoperates with any standard broker or client at QoS 0/1 — the
broker double exists so tests can run a full round trip in-process,
not because the client needs it.
"""

from __future__ import annotations

import os
import socket
import struct
import threading
import time
import uuid

# control packet types (MQTT 3.1.1 §2.2.1)
CONNECT, CONNACK, PUBLISH, PUBACK = 1, 2, 3, 4
SUBSCRIBE, SUBACK, UNSUBSCRIBE, UNSUBACK = 8, 9, 10, 11
PINGREQ, PINGRESP, DISCONNECT = 12, 13, 14


# ----------------------------------------------------------------- codec


def _encode_len(n: int) -> bytes:
    """Remaining-length varint (§2.2.3): 7 bits per byte, MSB = more."""
    out = bytearray()
    while True:
        n, digit = divmod(n, 128)
        out.append(digit | (0x80 if n else 0))
        if not n:
            return bytes(out)


def _utf8(s: str) -> bytes:
    b = s.encode("utf-8")
    return struct.pack(">H", len(b)) + b


def _packet(ptype: int, flags: int, body: bytes) -> bytes:
    return bytes([(ptype << 4) | flags]) + _encode_len(len(body)) + body


def connect_packet(client_id: str, keepalive: int = 60) -> bytes:
    # protocol name "MQTT", level 4, clean-session flag, keepalive
    vh = _utf8("MQTT") + bytes([4, 0x02]) + struct.pack(">H", keepalive)
    return _packet(CONNECT, 0, vh + _utf8(client_id))


def connack_packet(rc: int = 0) -> bytes:
    return _packet(CONNACK, 0, bytes([0, rc]))


def publish_packet(topic: str, payload: bytes, qos: int = 0, pid: int = 1,
                   dup: bool = False, retain: bool = False) -> bytes:
    flags = (dup << 3) | (qos << 1) | retain
    vh = _utf8(topic) + (struct.pack(">H", pid) if qos else b"")
    return _packet(PUBLISH, flags, vh + payload)


def puback_packet(pid: int) -> bytes:
    return _packet(PUBACK, 0, struct.pack(">H", pid))


def subscribe_packet(pid: int, topic: str, qos: int = 1) -> bytes:
    # fixed-header flags MUST be 0b0010 for SUBSCRIBE (§3.8.1)
    return _packet(SUBSCRIBE, 0x02, struct.pack(">H", pid) + _utf8(topic) + bytes([qos]))


def suback_packet(pid: int, granted: list[int]) -> bytes:
    return _packet(SUBACK, 0, struct.pack(">H", pid) + bytes(granted))


def unsuback_packet(pid: int) -> bytes:
    return _packet(UNSUBACK, 0, struct.pack(">H", pid))


def pingreq_packet() -> bytes:
    return _packet(PINGREQ, 0, b"")


def pingresp_packet() -> bytes:
    return _packet(PINGRESP, 0, b"")


def disconnect_packet() -> bytes:
    return _packet(DISCONNECT, 0, b"")


def _recv_exact(sock: socket.socket, n: int) -> bytes:
    buf = b""
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise ConnectionError("peer closed")
        buf += chunk
    return buf


def read_packet(sock: socket.socket) -> tuple[int, int, bytes]:
    """Read one control packet → (type, flags, body)."""
    head = _recv_exact(sock, 1)[0]
    length, mult = 0, 1
    for _ in range(4):
        digit = _recv_exact(sock, 1)[0]
        length += (digit & 0x7F) * mult
        if not digit & 0x80:
            break
        mult *= 128
    else:
        raise ValueError("malformed remaining length")
    return head >> 4, head & 0x0F, _recv_exact(sock, length) if length else b""


def parse_publish(flags: int, body: bytes) -> tuple[str, int, int | None, bytes]:
    """PUBLISH body → (topic, qos, pid, payload)."""
    qos = (flags >> 1) & 0x03
    tlen = struct.unpack(">H", body[:2])[0]
    topic = body[2 : 2 + tlen].decode("utf-8")
    off = 2 + tlen
    pid = None
    if qos:
        pid = struct.unpack(">H", body[off : off + 2])[0]
        off += 2
    return topic, qos, pid, body[off:]


def topic_matches(filt: str, topic: str) -> bool:
    """MQTT topic-filter match with ``+`` (one level) and ``#`` (rest)."""
    fparts, tparts = filt.split("/"), topic.split("/")
    for i, fp in enumerate(fparts):
        if fp == "#":
            return True
        if i >= len(tparts):
            return False
        if fp != "+" and fp != tparts[i]:
            return False
    return len(fparts) == len(tparts)


# ---------------------------------------------------------------- broker


class MqttBroker:
    """In-process MQTT 3.1.1 broker double (QoS 0/1): CONNECT/SUBSCRIBE/
    UNSUBSCRIBE/PUBLISH routing with real framing, standing in for the
    reference node's local message server (message_server.py) so
    round-trip tests need no external daemon."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        self._srv = socket.create_server((host, port))
        self.host, self.port = self._srv.getsockname()
        self._subs: list[tuple[str, int, socket.socket]] = []  # (filter, qos, conn)
        self._lock = threading.Lock()
        self._alive = False
        self.published = 0

    def start(self) -> "MqttBroker":
        self._alive = True
        threading.Thread(target=self._accept_loop, daemon=True).start()
        return self

    def _accept_loop(self) -> None:
        while self._alive:
            try:
                conn, _ = self._srv.accept()
            except OSError:
                return
            threading.Thread(target=self._session, args=(conn,), daemon=True).start()

    def _session(self, conn: socket.socket) -> None:
        try:
            ptype, _, _ = read_packet(conn)
            if ptype != CONNECT:
                conn.close()
                return
            conn.sendall(connack_packet(0))
            while self._alive:
                ptype, flags, body = read_packet(conn)
                if ptype == SUBSCRIBE:
                    pid = struct.unpack(">H", body[:2])[0]
                    off, granted = 2, []
                    while off < len(body):
                        tlen = struct.unpack(">H", body[off : off + 2])[0]
                        filt = body[off + 2 : off + 2 + tlen].decode("utf-8")
                        qos = body[off + 2 + tlen]
                        off += 3 + tlen
                        granted.append(min(qos, 1))
                        with self._lock:
                            self._subs.append((filt, min(qos, 1), conn))
                    conn.sendall(suback_packet(pid, granted))
                elif ptype == UNSUBSCRIBE:
                    # packet id, then length-prefixed filters (§3.10)
                    pid = struct.unpack(">H", body[:2])[0]
                    off, filters = 2, set()
                    while off < len(body):
                        tlen = struct.unpack(">H", body[off : off + 2])[0]
                        filters.add(body[off + 2 : off + 2 + tlen].decode("utf-8"))
                        off += 2 + tlen
                    with self._lock:
                        self._subs = [
                            s for s in self._subs if s[2] is not conn or s[0] not in filters
                        ]
                    conn.sendall(unsuback_packet(pid))
                elif ptype == PUBLISH:
                    topic, qos, pid, payload = parse_publish(flags, body)
                    # count BEFORE acking: a QoS-1 publisher unblocks on
                    # PUBACK, so the published counter it can then
                    # observe must already be updated. Route AFTER the
                    # ack: _route sendall()s to every subscriber
                    # synchronously, and a subscriber that stops
                    # draining its socket must delay delivery, not
                    # wedge the publisher's ack (also keeps PUBACK
                    # first-in-line for a client that publishes and
                    # subscribes on one connection).
                    # CONTRACT: broker-side QoS-1 is therefore
                    # ACK-THEN-DELIVER — if this session dies between
                    # the PUBACK and _route(), the message is acked but
                    # undelivered. Acceptable for an in-process test
                    # double; a production broker would persist before
                    # acking.
                    self.published += 1
                    if qos and pid is not None:
                        conn.sendall(puback_packet(pid))
                    self._route(topic, payload)
                elif ptype == PINGREQ:
                    conn.sendall(pingresp_packet())
                elif ptype == PUBACK:
                    pass
                elif ptype == DISCONNECT:
                    break
        except (ConnectionError, OSError, ValueError):
            pass
        finally:
            with self._lock:
                self._subs = [s for s in self._subs if s[2] is not conn]
            conn.close()

    def _route(self, topic: str, payload: bytes) -> None:
        with self._lock:
            subs = list(self._subs)
        for filt, qos, conn in subs:
            if topic_matches(filt, topic):
                try:
                    conn.sendall(publish_packet(topic, payload, qos=qos, pid=1))
                except OSError:
                    pass

    def stop(self) -> None:
        self._alive = False
        try:
            self._srv.close()
        except OSError:
            pass


# ---------------------------------------------------------------- client


class MqttPublisher:
    """Minimal publishing client (the device side of the round trip)."""

    def __init__(self, host: str, port: int, client_id: str | None = None):
        self._sock = socket.create_connection((host, port))
        self._pid = 0
        self._sock.sendall(connect_packet(client_id or f"pub-{uuid.uuid4().hex[:8]}"))
        ptype, _, body = read_packet(self._sock)
        if ptype != CONNACK or body[1] != 0:
            raise ConnectionError(f"CONNACK refused: {body!r}")

    def publish(self, topic: str, payload: bytes | str, qos: int = 1) -> None:
        if isinstance(payload, str):
            payload = payload.encode("utf-8")
        self._pid = self._pid % 0xFFFF + 1
        self._sock.sendall(publish_packet(topic, payload, qos=qos, pid=self._pid))
        if qos:
            ptype, _, body = read_packet(self._sock)
            if ptype != PUBACK or struct.unpack(">H", body[:2])[0] != self._pid:
                raise ConnectionError("PUBACK mismatch")

    def close(self) -> None:
        try:
            self._sock.sendall(disconnect_packet())
        except OSError:
            pass
        self._sock.close()


class Spooler:
    """The socket transports' handoff: each received payload becomes one
    text file in ``spool_dir``, which BrokerConsumer's file source
    streams as a single ``value`` column. Subclasses set ``spool_dir``
    and ``received = 0``."""

    spool_dir: str
    received: int

    def _spool(self, payload: bytes) -> None:
        name = f"{time.time_ns()}_{self.received}.txt"
        tmp = os.path.join(self.spool_dir, f".{name}.tmp")
        with open(tmp, "wb") as fh:
            fh.write(payload.rstrip(b"\n") + b"\n")
        # atomic rename so the streaming file source never reads partials
        os.rename(tmp, os.path.join(self.spool_dir, name))
        self.received += 1

    def wait_for(self, n: int, timeout: float = 10.0) -> bool:
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if self.received >= n:
                return True
            time.sleep(0.02)
        return self.received >= n


class MqttSubscriber(Spooler):
    """The ``run mqtt client`` transport: subscribe to a topic and spool
    each received payload to ``spool_dir`` as a text file — the handoff
    point where BrokerConsumer's file source picks messages up as a
    single ``value`` column. One file per message at test scale; the
    spool directory is the same bridge shape the survey prescribes for
    socket sources (HTTP/MQTT → file/Kafka → Structured Streaming)."""

    def __init__(self, host: str, port: int, topic: str, spool_dir: str,
                 client_id: str | None = None, qos: int = 1):
        self.host, self.port, self.topic, self.qos = host, port, topic, qos
        self.spool_dir = spool_dir
        self.client_id = client_id or f"edgelake-{uuid.uuid4().hex[:8]}"
        self.received = 0
        self._sock: socket.socket | None = None
        self._thread: threading.Thread | None = None
        self._alive = False

    def start(self) -> "MqttSubscriber":
        os.makedirs(self.spool_dir, exist_ok=True)
        self._sock = socket.create_connection((self.host, self.port))
        self._sock.sendall(connect_packet(self.client_id))
        ptype, _, body = read_packet(self._sock)
        if ptype != CONNACK or body[1] != 0:
            raise ConnectionError(f"CONNACK refused: {body!r}")
        self._sock.sendall(subscribe_packet(1, self.topic, qos=self.qos))
        ptype, _, body = read_packet(self._sock)
        if ptype != SUBACK or body[2] > 1:
            raise ConnectionError(f"SUBACK refused: {body!r}")
        self._alive = True
        self._thread = threading.Thread(target=self._recv_loop, daemon=True)
        self._thread.start()
        return self

    def _recv_loop(self) -> None:
        while self._alive:
            try:
                ptype, flags, body = read_packet(self._sock)
            except (ConnectionError, OSError, ValueError):
                return
            if ptype == PUBLISH:
                _, qos, pid, payload = parse_publish(flags, body)
                # spool before acking (same discipline as the broker's
                # publish path): PUBACK must mean "durably processed",
                # or a broker that redelivers-on-no-ack loses its
                # at-least-once guarantee the moment we crash mid-spool
                self._spool(payload)
                if qos and pid is not None:
                    self._sock.sendall(puback_packet(pid))
            elif ptype == PINGRESP:
                pass

    def stop(self) -> None:
        self._alive = False
        if self._sock is not None:
            try:
                self._sock.sendall(disconnect_packet())
            except OSError:
                pass
            self._sock.close()
