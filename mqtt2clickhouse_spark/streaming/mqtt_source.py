"""MQTT stream source via the Python Data Source API (Spark 4).

Reference behavior reproduced (SURVEY.md §2.1 S1-S4, L3):
- subscribes QoS 1 to a set of topic filters
  (/root/reference/client/client.go:126-137);
- bounded in-flight buffer of 300 messages — the reference's
  ``DataChannel = make(chan *Message, 300)``
  (/root/reference/message/message.go:17): when the buffer is full the
  paho callback blocks via the queue's own bound (backpressure to the
  broker, never message loss).  The 300 slots bound the BUFFER, not the
  micro-batch: ``read`` waits up to 1 s for a first message, then drains
  until one 0.1 s poll finds the buffer empty (the burst is over) or the
  1 s window closes.  A backlog lands in one batch per trigger and pays
  the sink's fixed per-batch cost once, without holding the trigger for
  the rest of the window; a steady stream with gaps under 0.1 s still
  reads to the deadline;
- broker URL scheme ssl iff port 8883
  (/root/reference/client/client.go:86-99), username/password auth
  (client.go:102-105).  The reference's ``InsecureSkipVerify: true``
  quirk (client.go:65) is NOT carried forward.

Offset semantics: MQTT has no replayable log, so Spark's checkpoint
carries all the offset state.  ``read(start)`` numbers rows
``start["seq"]``, ``start["seq"] + 1``, ... and returns the next seq as
its end offset, so a restarted query numbers on from its checkpoint and
no seq is ever re-used.  Messages are PUBACKed (QoS 1) when they enter
the buffer, and ``readBetweenOffsets`` re-reads nothing: a batch that
was planned but whose sink write had not finished when the process died
comes back empty after the restart, and its messages are lost.  A batch
whose write finished but whose checkpoint commit did not re-runs empty,
so the live path never writes a batch twice.  The daemon (``__main__``)
does not apply ``dedup_effectively_once``, and ``DemuxSink.foreach_batch``
ignores ``epoch_id``; ROADMAP item 3 tracks both.

Test mode: ``.option("mode", "fake")`` generates a deterministic message
stream (no broker, no paho needed) so the full DataSource machinery —
registration, offsets, micro-batch planning, schema — is exercised in
CI.  Live mode uses ``paho-mqtt`` when installed and otherwise falls
back to the built-in minimal MQTT 3.1.1 wire client
(``streaming.mqtt_wire``), which tests drive against a real loopback
TCP/TLS broker.
"""

from __future__ import annotations

import json
import math
import queue
import time
from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import StructType

MESSAGE_DDL = "topic string, payload string, seq long, ingest_ts timestamp"

_FAKE_SENSORS = ["temp_out", "humidity", "state"]


def _fake_rows(start: int, end: int) -> Iterator[tuple]:
    """Deterministic message generator of the fake reader (a pure
    function of the seq range)."""
    from datetime import datetime, timezone

    for n in range(start, end):
        sensor = _FAKE_SENSORS[n % len(_FAKE_SENSORS)]
        device = f"dev{n % 2}"
        topic = f"/client0/{device}/out/sensors/{sensor}"
        if sensor == "state":
            payload = json.dumps({"value": "on" if n % 2 else "off"})
        else:
            payload = json.dumps({"value": n / 10.0})
        ts = datetime.fromtimestamp(1_700_000_000 + n, tz=timezone.utc)
        yield (topic, payload, n, ts)

#: reference channel capacity (message/message.go:17)
BUFFER_CAPACITY = 300


def tls_kwargs(options) -> dict | None:
    """Keyword arguments for paho's ``tls_set()``, from source options —
    ``None`` when the connection is plaintext (port != 8883, the
    reference's scheme rule, client/client.go:92-97).

    Reference parity (client/client.go:56-83 + config/config.go:16-50):
    the reference loads CA + client cert/key paths from
    ``config/configTLS.json`` (keys caPath/certPath/keyPath) and refuses
    to start TLS without all three.  Here the same three paths arrive
    either as individual options (``tls_ca``/``tls_cert``/``tls_key``)
    or as a ``tls_config`` option naming a JSON file in the reference's
    configTLS shape.  Differences, both deliberate:
    - ``InsecureSkipVerify: true`` (client.go:65) is NOT carried forward
      — the CA (or system trust store) actually verifies the broker;
    - server-auth-only TLS (no client pair) is allowed, since requiring
      mTLS for every 8883 connection was a reference limitation, not a
      protocol rule.  A half-provided client pair is still an error.
    """
    if int(options.get("port", 1883)) != 8883:
        return None
    ca = options.get("tls_ca") or None
    cert = options.get("tls_cert") or None
    key = options.get("tls_key") or None
    config_path = options.get("tls_config") or None
    if config_path and not (ca or cert or key):
        with open(config_path, encoding="utf-8") as fh:
            cfg = json.load(fh)
        ca = cfg.get("caPath") or None
        cert = cfg.get("certPath") or None
        key = cfg.get("keyPath") or None
    if (cert is None) != (key is None):
        raise ValueError(
            "tls_cert and tls_key must be provided together "
            "(client certificate needs its private key)"
        )
    kwargs: dict = {}
    if ca:
        kwargs["ca_certs"] = ca
    if cert:
        kwargs["certfile"] = cert
        kwargs["keyfile"] = key
    return kwargs


class MqttDataSource(DataSource):
    """``spark.readStream.format("mqtt")`` source.

    Options:
      mode:      "live" (default; paho-mqtt when installed, otherwise
                 the built-in ``streaming.mqtt_wire`` client) or "fake"
      broker:    host (live)
      port:      int, ssl scheme iff 8883 (live)
      topics:    JSON map name→topic-filter (the Consul KV value shape,
                 /root/reference/config/config.go:82-86) or a single filter
      username/password: auth (live)
      tls_ca/tls_cert/tls_key: PEM paths for broker verification and
                 client-certificate (mTLS) auth; applied iff port 8883
      tls_config: JSON file in the reference's configTLS.json shape
                 (caPath/certPath/keyPath) — an alternative to the three
                 individual path options
      batch_size: max messages per micro-batch.  Fake reader: default
                 50.  Live reader: no cap by default — the drain ends
                 when the burst does (one empty 0.1 s poll after the
                 first row) or at 1 s, and the 300-slot buffer bounds
                 memory; set it to cap a live batch explicitly
      max_messages: total messages the fake reader generates (fake)

    The live reader connects on its first ``read`` and holds no offset
    or replay state of its own: the checkpoint's start offset numbers
    its rows (see "Offset semantics" above).
    """

    @classmethod
    def name(cls) -> str:
        return "mqtt"

    def schema(self) -> str:
        return MESSAGE_DDL

    def simpleStreamReader(self, schema: StructType):
        if self.options.get("mode", "live") == "fake":
            return FakeMqttStreamReader(self.options)
        return LiveMqttStreamReader(self.options)


class FakeMqttStreamReader(SimpleDataSourceStreamReader):
    """Deterministic generator: seq n → topic cycles over 3 sensors of 2
    devices, payload value = n/10 (every 3rd a string state reading) —
    enough variety to drive parse + demux end-to-end."""

    def __init__(self, options) -> None:
        self.batch_size = int(options.get("batch_size", 50))
        self.max_messages = int(options.get("max_messages", 10**12))

    def initialOffset(self) -> dict:
        return {"seq": 0}

    def read(self, start: dict):
        s = start["seq"]
        e = min(s + self.batch_size, self.max_messages)
        if e < s:
            e = s
        # list, not generator: Spark pickles the prefetched batch for
        # commit-time replay
        return list(_fake_rows(s, e)), {"seq": e}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        return list(_fake_rows(start["seq"], end["seq"]))


class LiveMqttStreamReader(SimpleDataSourceStreamReader):
    """Live-broker reader with the reference's bounded buffer.

    Spark builds this reader twice per query: the source runner calls
    ``read``, and the read planner pickles its own copy for
    ``readBetweenOffsets``.  The constructor only parses options and the
    broker session opens on the first ``read``, so a query holds one
    session and the planner's copy pickles as plain options.

    Transport: ``paho-mqtt`` when installed; otherwise the built-in
    zero-dependency MQTT 3.1.1 client (``streaming.mqtt_wire`` — same
    API subset), so the live path needs no third-party package.  The
    wire client is exercised end-to-end against a real TCP/TLS loopback
    broker in tests/test_streaming.py."""

    def __init__(self, options) -> None:
        self.options = options
        cap = options.get("batch_size")
        self.batch_size = int(cap) if cap is not None else math.inf

    # -- connection management (client/client.go:56-123 semantics) -----
    @staticmethod
    def _close_client(client) -> None:
        """Release the client's socket DETERMINISTICALLY on both
        transports.  The wire client's ``disconnect()`` closes its fd;
        paho's ``disconnect()`` before ``loop_start`` only sends the
        DISCONNECT packet and leaves the fd open until the object is
        garbage-collected (ADVICE r14) — fine under CPython refcounting,
        a real leak under other GCs — so also stop the loop thread
        (no-op when never started) and close the raw socket via the
        ``socket()`` accessor paho exposes."""
        try:
            client.disconnect()
        except OSError:
            pass
        loop_stop = getattr(client, "loop_stop", None)
        if callable(loop_stop):
            try:
                loop_stop()
            except (OSError, RuntimeError):
                pass
        sock_of = getattr(client, "socket", None)
        if callable(sock_of):
            try:
                sock = sock_of()
                if sock is not None:
                    sock.close()
            except OSError:
                pass

    def _connect(self) -> None:
        try:
            import paho.mqtt.client as mqtt
        except ImportError:
            from mqtt2clickhouse_spark.streaming import mqtt_wire as mqtt
        opts = self.options
        self.buffer: queue.Queue = queue.Queue(maxsize=BUFFER_CAPACITY)
        client = mqtt.Client()
        if opts.get("username"):
            client.username_pw_set(opts.get("username"), opts.get("password"))
        port = int(opts.get("port", 1883))
        tls = tls_kwargs(opts)  # ssl scheme iff port 8883 (client.go:92-97)
        if tls is not None:
            # proper verification — not InsecureSkipVerify; mTLS when a
            # client cert/key pair is configured (client.go:56-83)
            client.tls_set(**tls)
        client.on_message = self._on_message
        client.connect(opts.get("broker", "localhost"), port)
        # a failure from here on (subscribe into a just-severed socket,
        # loop thread spawn) leaves a CONNECTED socket behind; read()
        # retries _connect every micro-batch against a flapping broker,
        # so without the close each attempt leaks one fd — exhaustion in
        # a long-running daemon, not a nit
        try:
            topics = opts.get("topics", "#")
            try:
                topic_map = json.loads(topics)
                filters = list(topic_map.values())
            except (ValueError, AttributeError):
                filters = [topics]
            for f in filters:
                client.subscribe(f, qos=1)  # QoS 1 (client.go:132)
            client.loop_start()
        except BaseException:
            self._close_client(client)
            raise
        self.client = client

    def _on_message(self, client, userdata, msg) -> None:
        # blocks when full → backpressure to paho's network thread, the
        # channel-full behavior of the reference
        self.buffer.put((msg.topic, msg.payload.decode("utf-8", "replace")))

    # -- offset protocol ----------------------------------------------
    def initialOffset(self) -> dict:
        return {"seq": 0}

    def read(self, start: dict):
        from datetime import datetime, timezone

        if not hasattr(self, "client"):
            self._connect()
        # a dead network loop (wire-client loop_error — broker gone,
        # stream desync, TLS failure) must SURFACE, not show up as empty
        # batches forever: drain what's buffered, then reconnect; if the
        # broker is really gone the reconnect raises into the stream
        loop_error = getattr(self.client, "loop_error", None)
        if loop_error is not None and self.buffer.empty():
            self._close_client(self.client)
            try:
                self._connect()
            except (OSError, ConnectionError) as exc:
                raise ConnectionError(
                    f"MQTT network loop died ({loop_error!r}) and reconnect failed"
                ) from exc

        seq = start["seq"]
        rows = []
        deadline = time.monotonic() + 1.0
        while len(rows) < self.batch_size and time.monotonic() < deadline:
            try:
                topic, payload = self.buffer.get(timeout=0.1)
            except queue.Empty:
                if rows:
                    break  # the burst has drained
                continue
            rows.append((topic, payload, seq + len(rows), datetime.now(tz=timezone.utc)))
        return iter(rows), {"seq": seq + len(rows)}

    def readBetweenOffsets(self, start: dict, end: dict):
        """Spark calls this only after a restart, for the last planned
        batch, whose rows the new process never read.  MQTT keeps no log
        and those messages were PUBACKed when they entered the buffer,
        so the batch re-reads as empty: its rows are lost if the process
        died before the batch's sink write finished, and are written
        once if it died after."""
        return iter(())


def register_mqtt_source(spark) -> None:
    spark.dataSource.register(MqttDataSource)
