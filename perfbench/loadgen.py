"""Load generator for the ingest workloads: an MQTT 3.1.1 broker that
publishes a seeded message list to the daemon under test.

It runs as its own process, apart from the system under test, and does
its own MQTT framing (it imports nothing from the program), so a change
to the program cannot change the load.  Every PUBLISH frame is encoded
before it is due.

Delivery follows a broker's QoS-1 rules: every subscribed session gets
every message published after it subscribed, and at most ``INFLIGHT``
messages per session are unacknowledged at once (mosquitto's default
``max_inflight_messages``); the rest wait at the broker.  The daemon's
client PUBACKs a message once it sits in its bounded buffer, so the
window carries the daemon's backpressure back to the generator.  The
first session to subscribe is the one that feeds the stream; the daemon
may open others (Spark builds the reader in more than one process), and
each counts in the record.

Control (one word per line on stdin):
  ``go T``  start the load at monotonic time T: the paced schedule, or
            the rest of the backlog (its first ``BACKLOG_WARMUP``
            messages, batch 0, are offered on subscribe)
  ``stop``  stop offering; prints ``SENT <n>``
  ``exit``  write the record file and exit

All times are ``time.monotonic()``, which is one clock for every process
on the host.

    python3 perfbench/loadgen.py --workload ingest_paced --seed 1 --out rec.json
    python3 perfbench/loadgen.py --self-check
"""

from __future__ import annotations

import argparse
import collections
import json
import random
import selectors
import socket
import struct
import subprocess
import sys
import threading
import time

INFLIGHT = 20
PACED_RATE = 40.0  # msg/s
PACED_SENSORS = 20
BACKLOG_WARMUP = 300  # the daemon's default batch size and buffer: batch 0
BACKLOG_SENSORS = 1000
BACKLOG_ZIPF_S = 1.5
REJECT_SHARE = 0.05

# MQTT 3.1.1 control packet types
CONNECT, CONNACK, PUBLISH, PUBACK = 1, 2, 3, 4
SUBSCRIBE, SUBACK, PINGREQ, PINGRESP, DISCONNECT = 8, 9, 12, 13, 14


# -- messages -------------------------------------------------------------


def _float_payload(rng: random.Random) -> str:
    if rng.random() < 0.2:
        return json.dumps({"value": rng.randint(-50, 500), "timestamp": 1700000000})
    return json.dumps({"value": round(rng.uniform(-40.0, 60.0), 2)})


def _string_payload(rng: random.Random) -> str:
    return json.dumps({"value": rng.choice(["on", "off", "idle", "fault"])})


def _topic(rng: random.Random, sensor: str) -> str:
    return f"/client{rng.randrange(10)}/dev{rng.randrange(50)}/out/sensors/{sensor}"


def _sensor_types(rng: random.Random, n: int) -> list[str]:
    # the hottest sensor (index 0) is numeric, so schema-mismatch rejects
    # have a Float64 table to hit from the first message on
    return ["Float64"] + [
        "String" if rng.random() < 0.15 else "Float64" for _ in range(n - 1)
    ]


def backlog_messages(seed: int, n: int) -> list[tuple[str, str]]:
    """``n`` (topic, payload) pairs over ~1,000 Zipf-popular sensors,
    about 5% of them rejects of five kinds."""
    rng = random.Random(seed)
    names = [f"s{i:04d}" for i in range(BACKLOG_SENSORS)]
    rng.shuffle(names)
    types = _sensor_types(rng, BACKLOG_SENSORS)
    weights = [1.0 / (k + 1) ** BACKLOG_ZIPF_S for k in range(BACKLOG_SENSORS)]
    picks = rng.choices(range(BACKLOG_SENSORS), weights=weights, k=n)
    seen_float: list[int] = []
    out = []
    for k in picks:
        sensor = names[k]
        if rng.random() < REJECT_SHARE:
            kind = rng.randrange(5)
            if kind == 0:  # invalid topic
                topic = rng.choice([f"sensors/{sensor}", f"/client1/dev1/{sensor}"])
                out.append((topic, _float_payload(rng)))
            elif kind == 1:  # invalid JSON
                out.append((_topic(rng, sensor), rng.choice(['{"value": 12.5', "not json"])))
            elif kind == 2:  # missing value
                out.append((_topic(rng, sensor), rng.choice(['{"temp": 21.5}', "{}"])))
            elif kind == 3:  # unsupported type
                bad = rng.choice(["true", "[1, 2]", '{"a": 1}'])
                out.append((_topic(rng, sensor), '{"value": ' + bad + "}"))
            else:  # String reading on a Float64 sensor already seen
                target = names[rng.choice(seen_float)] if seen_float else names[0]
                out.append((_topic(rng, target), _string_payload(rng)))
            continue
        if types[k] == "Float64":
            seen_float.append(k)
            out.append((_topic(rng, sensor), _float_payload(rng)))
        else:
            out.append((_topic(rng, sensor), _string_payload(rng)))
    return out


def paced_messages(seed: int, n: int) -> list[tuple[str, str]]:
    """``n`` valid (topic, payload) pairs over 20 sensors; the first 20
    are one warm-up reading per sensor, which creates every table."""
    rng = random.Random(seed)
    names = [f"p{i:02d}" for i in range(PACED_SENSORS)]
    types = _sensor_types(rng, PACED_SENSORS)
    order = list(range(PACED_SENSORS)) + [
        rng.randrange(PACED_SENSORS) for _ in range(max(0, n - PACED_SENSORS))
    ]
    return [
        (
            _topic(rng, names[k]),
            _float_payload(rng) if types[k] == "Float64" else _string_payload(rng),
        )
        for k in order[:n]
    ]


def messages(workload: str, seed: int, n: int) -> list[tuple[str, str]]:
    if workload == "ingest_backlog":
        return backlog_messages(seed, n)
    if workload == "ingest_paced":
        return paced_messages(seed, n)
    raise ValueError(f"unknown workload {workload!r}")


# -- framing ----------------------------------------------------------------


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b, n = n % 128, n // 128
        out.append(b | (0x80 if n else 0))
        if not n:
            return bytes(out)


def _frame(ptype: int, flags: int, body: bytes) -> bytes:
    return bytes([(ptype << 4) | flags]) + _varint(len(body)) + body


def _mqtt_str(s: str) -> bytes:
    b = s.encode()
    return struct.pack(">H", len(b)) + b


def publish_frame(index: int, topic: str, payload: str) -> bytes:
    """QoS-1 PUBLISH; the packet id is derived from the message index."""
    body = _mqtt_str(topic) + struct.pack(">H", index % 0xFFFF + 1) + payload.encode()
    return _frame(PUBLISH, 0x02, body)


def _recv_exact(sock: socket.socket, n: int) -> bytes:
    buf = bytearray()
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise ConnectionError("peer closed")
        buf += chunk
    return bytes(buf)


def read_packet(sock: socket.socket) -> tuple[int, int, bytes]:
    head = _recv_exact(sock, 1)[0]
    length, mult = 0, 1
    while True:
        b = _recv_exact(sock, 1)[0]
        length += (b & 0x7F) * mult
        if not b & 0x80:
            break
        mult *= 128
    return head >> 4, head & 0x0F, _recv_exact(sock, length) if length else b""


# -- the broker side ---------------------------------------------------------


class Session:
    """One client connection: its write lock, its QoS-1 in-flight window
    and the messages queued for it while the window is full."""

    def __init__(self, sock: socket.socket) -> None:
        self.sock = sock
        self.subscribed = False
        self.write_lock = threading.Lock()
        self.slots = threading.Semaphore(INFLIGHT)
        self.inflight: dict[int, int] = {}  # packet id -> message index
        self.pending: collections.deque[int] = collections.deque()
        self.closed = threading.Event()
        self.sent = 0
        self.acked = 0

    def write(self, data: bytes) -> None:
        with self.write_lock:
            self.sock.sendall(data)


class Broker:
    """Accepts any number of clients, as a broker must, on one network
    thread.  Every message goes to every subscribed session; the first
    session to subscribe is the primary, whose window paces the load and
    whose per-message times are recorded."""

    def __init__(self, frames: list[bytes]) -> None:
        self.frames = frames
        self.listener = socket.create_server(("127.0.0.1", 0))
        self.port = self.listener.getsockname()[1]
        self.sessions: list[Session] = []  # subscribed, in order
        self.lock = threading.Lock()
        self.primary_ready = threading.Event()
        self.stop = threading.Event()
        self.shutdown = threading.Event()
        self.due: list[float] = []
        self.sent: list[float] = []
        self.acked: list[float | None] = []
        self.lateness: list[float] = []
        self.send_blocked_s = 0.0

    # network thread: accept, handshakes, PUBACKs, pings
    def network(self) -> None:
        sel = selectors.DefaultSelector()
        sel.register(self.listener, selectors.EVENT_READ, None)
        while not self.shutdown.is_set():
            for key, _ in sel.select(timeout=0.1):
                if key.data is None:
                    sock, _ = self.listener.accept()
                    sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
                    sel.register(sock, selectors.EVENT_READ, Session(sock))
                    continue
                sess = key.data
                try:
                    self._handle(sess, *read_packet(sess.sock))
                except (ConnectionError, OSError, struct.error):
                    sel.unregister(sess.sock)
                    sess.closed.set()
                    sess.sock.close()
        for key in list(sel.get_map().values()):
            key.fileobj.close()
        sel.close()

    def _handle(self, sess: Session, ptype: int, flags: int, body: bytes) -> None:
        if ptype == CONNECT:
            sess.write(_frame(CONNACK, 0, b"\x00\x00"))
        elif ptype == SUBSCRIBE:
            (mid,) = struct.unpack_from(">H", body, 0)
            at, n_filters = 2, 0
            while at < len(body):
                (ln,) = struct.unpack_from(">H", body, at)
                at += 2 + ln + 1
                n_filters += 1
            sess.write(_frame(SUBACK, 0, struct.pack(">H", mid) + b"\x01" * n_filters))
            if not sess.subscribed:
                sess.subscribed = True
                with self.lock:
                    self.sessions.append(sess)
                self.primary_ready.set()
        elif ptype == PUBACK:
            now = time.monotonic()
            (mid,) = struct.unpack_from(">H", body, 0)
            i = sess.inflight.pop(mid, None)
            if i is None:
                return
            sess.acked += 1
            if sess is self.sessions[0]:
                self.acked[i] = now
            sess.slots.release()
        elif ptype == PINGREQ:
            sess.write(_frame(PINGRESP, 0, b""))
        elif ptype == DISCONNECT:
            raise ConnectionError("client disconnected")

    # sender side
    def _transmit(self, sess: Session, i: int) -> None:
        sess.inflight[i % 0xFFFF + 1] = i
        sess.write(self.frames[i])
        sess.sent += 1

    def _flush_others(self) -> None:
        for sess in self.sessions[1:]:
            while sess.pending and not sess.closed.is_set() and sess.slots.acquire(blocking=False):
                try:
                    self._transmit(sess, sess.pending.popleft())
                except OSError:
                    sess.closed.set()

    def publish(self, i: int) -> float:
        """Hand message ``i`` to every subscribed session, waiting for a
        slot on the primary only; returns when that slot was had."""
        primary = self.sessions[0]
        with self.lock:
            others = self.sessions[1:]
        for sess in others:
            sess.pending.append(i)
        t = time.monotonic()
        while not primary.slots.acquire(timeout=0.05):
            self._flush_others()
            if self.stop.is_set() or primary.closed.is_set():
                self.send_blocked_s += time.monotonic() - t
                raise ConnectionError("stopped while the in-flight window was full")
        got_slot = time.monotonic()
        self.acked.append(None)
        self.sent.append(0.0)
        self._transmit(primary, i)
        now = time.monotonic()
        self.sent[i] = now
        self.send_blocked_s += now - t
        self._flush_others()
        return got_slot

    def offer(self, start: int = 0, end: int | None = None, t0: float | None = None) -> None:
        """Closed loop: from monotonic time ``t0`` on, publish messages
        ``start`` to ``end``, each as soon as the primary has a free
        slot.  The generator's own lag is the time from a free slot to
        the frame written."""
        if t0 is not None and self.stop.wait(max(0.0, t0 - time.monotonic())):
            return
        for i in range(start, len(self.frames) if end is None else end):
            if self.stop.is_set():
                return
            self.due.append(time.monotonic())
            self.lateness.append(0.0)
            try:
                got_slot = self.publish(i)
            except (ConnectionError, OSError):
                self.due.pop()
                self.lateness.pop()
                return
            self.lateness[i] = self.sent[i] - got_slot

    def paced(self, start: int, rate: float, t0: float) -> None:
        """Open loop: message ``start + j`` is due at ``t0 + j / rate``."""
        for j, i in enumerate(range(start, len(self.frames))):
            due = t0 + j / rate
            while True:
                wait = due - time.monotonic()
                if wait <= 0 or self.stop.wait(min(wait, 0.05)):
                    break
            if self.stop.is_set():
                return
            self.due.append(due)
            self.lateness.append(time.monotonic() - due)
            try:
                self.publish(i)
            except (ConnectionError, OSError):
                self.due.pop()
                self.lateness.pop()
                return

    def record(self) -> dict:
        return {
            "due": self.due,
            "sent": self.sent,
            "acked": self.acked,
            "lateness": self.lateness,
            "send_blocked_s": self.send_blocked_s,
            "sessions": [
                {"sent": s.sent, "acked": s.acked, "queued": len(s.pending)}
                for s in self.sessions
            ],
        }


def serve(workload: str, seed: int, out: str, n_max: int) -> int:
    msgs = messages(workload, seed, n_max)
    broker = Broker([publish_frame(i, t, p) for i, (t, p) in enumerate(msgs)])
    net = threading.Thread(target=broker.network)
    net.start()

    def feed() -> None:
        """Once the daemon subscribes, offer the warm-up: batch 0's
        messages (backlog), or one reading per sensor (paced)."""
        while not broker.primary_ready.wait(0.05):
            if broker.stop.is_set():
                return
        if workload == "ingest_backlog":
            broker.offer(0, BACKLOG_WARMUP)
            return
        for i in range(PACED_SENSORS):
            broker.due.append(time.monotonic())
            broker.lateness.append(0.0)
            try:
                broker.publish(i)
            except (ConnectionError, OSError):
                broker.due.pop()
                broker.lateness.pop()
                return

    # control words are read from the start, so "stop" works even if the
    # daemon never subscribes
    feeder = threading.Thread(target=feed)
    feeder.start()
    print(f"PORT {broker.port}", flush=True)
    sender: threading.Thread | None = None
    go_time = None
    try:
        for line in sys.stdin:
            word = line.strip()
            if word.startswith("go ") and sender is None:
                # "go <t>": the load starts at monotonic time t, after
                # the warm-up
                go_time = float(word[3:])
                feeder.join()
                if workload == "ingest_backlog":
                    target, targs = broker.offer, (BACKLOG_WARMUP, None, go_time)
                else:
                    target, targs = broker.paced, (PACED_SENSORS, PACED_RATE, go_time)
                sender = threading.Thread(target=target, args=targs)
                sender.start()
            elif word == "stop":
                broker.stop.set()
                for t in (feeder, sender):
                    if t is not None:
                        t.join()
                print(f"SENT {len(broker.sent)}", flush=True)
            elif word == "exit":
                break
    finally:
        broker.stop.set()
        for t in (feeder, sender):
            if t is not None:
                t.join()
        broker.shutdown.set()
        net.join()
    with open(out, "w") as fh:
        json.dump({"workload": workload, "seed": seed, "go": go_time, **broker.record()}, fh)
    return 0


def subscriber(port: int) -> None:
    """A client that PUBACKs every message at once (for the self-check)."""
    c = socket.create_connection(("127.0.0.1", port))
    c.sendall(_frame(CONNECT, 0, _mqtt_str("MQTT") + b"\x04\x02\x00\x3c" + _mqtt_str("chk")))
    read_packet(c)
    c.sendall(_frame(SUBSCRIBE, 0x02, struct.pack(">H", 1) + _mqtt_str("#") + b"\x01"))
    try:
        while True:
            ptype, _, body = read_packet(c)
            if ptype == PUBLISH:
                (ln,) = struct.unpack_from(">H", body, 0)
                c.sendall(_frame(PUBACK, 0, body[2 + ln : 4 + ln]))
    except (ConnectionError, OSError):
        pass
    finally:
        c.close()


def self_check(seconds: float = 2.0) -> dict:
    """Offer backlog messages to a subscriber process that PUBACKs at
    once, and report the rate against the highest rate a workload
    schedules."""
    frames = [publish_frame(i, t, p) for i, (t, p) in enumerate(backlog_messages(0, 100_000))]
    broker = Broker(frames)
    net = threading.Thread(target=broker.network)
    net.start()
    sub = subprocess.Popen([sys.executable, __file__, "--subscriber", str(broker.port)])
    try:
        broker.primary_ready.wait(30)
        sender = threading.Thread(target=broker.offer)
        t0 = time.monotonic()
        sender.start()
        time.sleep(seconds)
        broker.stop.set()
        sender.join()
        elapsed = time.monotonic() - t0
    finally:
        broker.stop.set()
        broker.shutdown.set()
        net.join()
        sub.wait(timeout=10)
    rate = len(broker.sent) / elapsed
    return {
        "offered_msgs_per_s": rate,
        "highest_scheduled_rate": PACED_RATE,
        "headroom": rate / PACED_RATE,
        "ok": rate >= 10 * PACED_RATE,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["ingest_backlog", "ingest_paced"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--out")
    ap.add_argument("--max-messages", type=int, default=100_000)
    ap.add_argument("--self-check", action="store_true")
    ap.add_argument("--subscriber", type=int, metavar="PORT", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.subscriber:
        subscriber(args.subscriber)
        return 0
    if args.self_check:
        res = self_check()
        print(json.dumps(res))
        return 0 if res["ok"] else 1
    if not args.workload or not args.out:
        ap.error("--workload and --out are required")
    return serve(args.workload, args.seed, args.out, args.max_messages)


if __name__ == "__main__":
    sys.exit(main())
