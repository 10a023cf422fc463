"""In-process MQTT 3.1.1 loopback broker — test infrastructure for the
live MQTT source path (tests only; the engine is a *client*, like the
reference).

Speaks the real wire format over real TCP (optionally TLS/mTLS), using
the shared codec from ``mqtt2clickhouse_spark.streaming.mqtt_wire``.
Records everything tests need to assert: authenticated username, the
exact (filter, qos) subscriptions, PUBACKs received for QoS-1
deliveries, and which sessions are still open.
"""

from __future__ import annotations

import socket
import struct
import threading

from mqtt2clickhouse_spark.streaming.mqtt_wire import (
    CONNACK,
    CONNECT,
    DISCONNECT,
    PINGREQ,
    PINGRESP,
    PUBACK,
    PUBLISH,
    SUBACK,
    SUBSCRIBE,
    encode_str,
    parse_str,
    read_packet,
    write_packet,
)


def topic_matches(filt: str, topic: str) -> bool:
    """MQTT 3.1.1 topic-filter matching ('#' multi-level, '+' one level)."""
    fparts, tparts = filt.split("/"), topic.split("/")
    for i, fp in enumerate(fparts):
        if fp == "#":
            return True
        if i >= len(tparts):
            return False
        if fp != "+" and fp != tparts[i]:
            return False
    return len(fparts) == len(tparts)


class _Session:
    def __init__(self, sock: socket.socket) -> None:
        self.sock = sock
        self.client_id: str | None = None
        self.username: str | None = None
        self.subscriptions: list[tuple[str, int]] = []
        self.lock = threading.Lock()  # serialize writes (loop vs publish)
        self.closed = False  # set once the client has gone


class MiniBroker:
    """Minimal broker: CONNECT auth, SUBSCRIBE/SUBACK, server->client
    PUBLISH (QoS 0/1) with PUBACK tracking, PINGREQ/PINGRESP."""

    def __init__(
        self,
        port: int = 0,
        username: str | None = None,
        password: str | None = None,
        ssl_context=None,
    ) -> None:
        self._username, self._password = username, password
        self._ssl_context = ssl_context
        self._listener = socket.create_server(("127.0.0.1", port))
        self.port = self._listener.getsockname()[1]
        self.sessions: list[_Session] = []
        self.pubacks: list[int] = []
        self._next_mid = 0
        self._running = True
        self._thread = threading.Thread(target=self._accept_loop, daemon=True)
        self._thread.start()

    # -- server loops ----------------------------------------------------
    def _accept_loop(self) -> None:
        while self._running:
            try:
                sock, _ = self._listener.accept()
            except OSError:
                return
            if self._ssl_context is not None:
                try:
                    sock = self._ssl_context.wrap_socket(sock, server_side=True)
                except OSError:
                    continue
            threading.Thread(
                target=self._serve, args=(_Session(sock),), daemon=True
            ).start()

    def _serve(self, sess: _Session) -> None:
        sock = sess.sock
        try:
            ptype, _, body = read_packet(sock)
            if ptype != CONNECT:
                return
            # variable header: "MQTT", level, flags, keepalive
            _, at = parse_str(body, 0)
            level, flags = body[at], body[at + 1]
            at += 4  # level + flags + keepalive
            sess.client_id, at = parse_str(body, at)
            if flags & 0x04:  # will (not used by the client under test)
                _, at = parse_str(body, at)
                (wn,) = struct.unpack_from(">H", body, at)
                at += 2 + wn
            username = password = None
            if flags & 0x80:
                username, at = parse_str(body, at)
            if flags & 0x40:
                password, at = parse_str(body, at)
            sess.username = username
            rc = 0
            if level != 4:
                rc = 1  # unacceptable protocol level
            elif self._username is not None and (
                username != self._username or password != self._password
            ):
                rc = 4  # bad user name or password
            with sess.lock:
                write_packet(sock, CONNACK, 0, bytes([0, rc]))
            if rc != 0:
                return
            self.sessions.append(sess)
            while self._running:
                ptype, pflags, body = read_packet(sock)
                if ptype == SUBSCRIBE:
                    (mid,) = struct.unpack_from(">H", body, 0)
                    at, granted = 2, bytearray()
                    while at < len(body):
                        filt, at = parse_str(body, at)
                        qos = body[at]
                        at += 1
                        sess.subscriptions.append((filt, qos))
                        granted.append(qos)
                    with sess.lock:
                        write_packet(
                            sock, SUBACK, 0, struct.pack(">H", mid) + bytes(granted)
                        )
                elif ptype == PUBACK:
                    (mid,) = struct.unpack_from(">H", body, 0)
                    self.pubacks.append(mid)
                elif ptype == PINGREQ:
                    with sess.lock:
                        write_packet(sock, PINGRESP, 0, b"")
                elif ptype == DISCONNECT:
                    return
        except (ConnectionError, OSError, ValueError):
            return
        finally:
            sess.closed = True
            try:
                sock.close()
            except OSError:
                pass

    # -- test API --------------------------------------------------------
    def open_sessions(self) -> int:
        """Accepted sessions whose client has not disconnected yet."""
        return sum(not sess.closed for sess in self.sessions)

    def publish(self, topic: str, payload: bytes, qos: int = 0) -> list[int]:
        """Deliver to every matching subscription; returns the QoS-1
        packet ids sent (for PUBACK assertions)."""
        mids = []
        for sess in list(self.sessions):
            for filt, sub_qos in sess.subscriptions:
                if topic_matches(filt, topic):
                    eff = min(qos, sub_qos)
                    body = encode_str(topic)
                    flags = eff << 1
                    if eff:
                        self._next_mid = (self._next_mid % 0xFFFF) + 1
                        body += struct.pack(">H", self._next_mid)
                        mids.append(self._next_mid)
                    body += payload
                    try:
                        with sess.lock:
                            write_packet(sess.sock, PUBLISH, flags, body)
                    except OSError:
                        if eff and mids:
                            mids.pop()  # dead session (disconnected client)
                    break  # one delivery per client
        return mids

    def close(self) -> None:
        self._running = False
        try:
            self._listener.close()
        except OSError:
            pass
        for sess in self.sessions:
            try:
                sess.sock.close()
            except OSError:
                pass
