"""The daemon entry point — the engine's equivalent of the reference's
``main()`` (/root/reference/main.go:38-109): connect to the broker,
load the topic map, run the ingest stream into the warehouse, and
hot-reload topics by restarting the query on config change.

    python -m mqtt2clickhouse_spark \
        --broker mqtt.example --port 8883 --username u --password p \
        --topics-file topics.json --warehouse /data/warehouse

Flag parity with the reference (main.go:39-46): --broker, --port,
--username, --password; --consul replaces --consulHost (same KV key,
long-poll semantics); --warehouse replaces --DBHost (parquet warehouse
instead of ClickHouse); TLS is implied by port 8883 exactly as in
client/client.go:92-97 (no --enableTLS flag needed).  --source fake
runs the deterministic broker-free source for smoke testing.
"""

from __future__ import annotations

import argparse
import json
import signal
import sys
import threading


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m mqtt2clickhouse_spark",
        description="MQTT → parquet-warehouse ingest daemon (Structured Streaming)",
    )
    p.add_argument("--broker", default="localhost", help="MQTT broker host")
    p.add_argument("--port", type=int, default=8883, help="broker port (8883 → TLS)")
    p.add_argument("--username", default="")
    p.add_argument("--password", default="")
    p.add_argument("--tls-ca", default="", help="CA PEM path (port 8883)")
    p.add_argument("--tls-cert", default="", help="client cert PEM path (mTLS)")
    p.add_argument("--tls-key", default="", help="client key PEM path (mTLS)")
    p.add_argument("--tls-config", default="",
                   help="JSON file with caPath/certPath/keyPath "
                        "(the reference's config/configTLS.json shape)")
    p.add_argument("--source", choices=["live", "fake"], default="live",
                   help="'fake' = deterministic broker-free source (smoke runs)")
    p.add_argument("--topics-file", default=None,
                   help="JSON file: {name: topic-filter}; watched for changes")
    p.add_argument("--consul", default=None,
                   help="Consul address, e.g. http://127.0.0.1:8500 "
                        "(KV key mqttClient/topics, blocking queries)")
    p.add_argument("--warehouse", required=True, help="warehouse directory")
    p.add_argument("--checkpoint", default=None,
                   help="checkpoint dir (default: <warehouse>/_checkpoints)")
    p.add_argument("--layout", choices=["partitioned", "per_table"],
                   default="partitioned")
    p.add_argument("--trigger", default="5 seconds", help="micro-batch interval")
    p.add_argument("--cpus", type=int, default=None)
    p.add_argument("--max-runtime", type=float, default=None,
                   help="stop after N seconds (smoke runs); default: run forever")
    p.add_argument("--min-batches", type=int, default=None,
                   help="exit as soon as N micro-batches have committed "
                        "(smoke runs; combine with --max-runtime as a hard cap "
                        "so the exit tracks progress, not wall clock)")
    p.add_argument("--metrics", default=None,
                   help="append per-batch JSONL metrics to this file")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from mqtt2clickhouse_spark.ingest.sink import DemuxSink
    from mqtt2clickhouse_spark.session import get_spark
    from mqtt2clickhouse_spark.streaming.config_watcher import (
        ConsulTopicSource,
        FileTopicSource,
        TopicWatcher,
    )
    from mqtt2clickhouse_spark.streaming.mqtt_source import register_mqtt_source
    from mqtt2clickhouse_spark.streaming.pipeline import run_ingest_stream

    spark = get_spark("mqtt2clickhouse_spark", cpus=args.cpus)
    if args.metrics:
        from mqtt2clickhouse_spark.streaming.metrics import attach_metrics

        attach_metrics(spark, args.metrics)
    register_mqtt_source(spark)
    sink = DemuxSink(spark, args.warehouse, layout=args.layout)
    checkpoint = args.checkpoint or f"{args.warehouse.rstrip('/')}/_checkpoints"

    if args.topics_file:
        topic_source = FileTopicSource(args.topics_file)
        topics = topic_source.load()
    elif args.consul:
        topic_source = ConsulTopicSource(args.consul)
        topics = topic_source.poll(timeout=10) or {}
    else:
        topic_source, topics = None, {"all": "#"}

    state: dict = {"query": None, "stop": threading.Event()}

    def start_query(topic_map: dict[str, str]):
        stream = (
            spark.readStream.format("mqtt")
            .option("mode", args.source)
            .option("broker", args.broker)
            .option("port", str(args.port))
            .option("username", args.username)
            .option("password", args.password)
            .option("tls_ca", args.tls_ca)
            .option("tls_cert", args.tls_cert)
            .option("tls_key", args.tls_key)
            .option("tls_config", args.tls_config)
            .option("topics", json.dumps(topic_map))
            .load()
        )
        return run_ingest_stream(
            stream, sink, checkpoint, trigger_interval=args.trigger
        )

    def on_topics_change(new_topics: dict[str, str]) -> None:
        # Sources cannot re-subscribe live (SURVEY §2.1 S4/L2): stop and
        # restart with the new option — offsets resume from checkpoint.
        print(f"topics changed → restarting query: {sorted(new_topics)}", flush=True)
        q = state["query"]
        if q is not None:
            q.stop()
            q.awaitTermination(60)
        state["query"] = start_query(new_topics)

    state["query"] = start_query(topics)
    watcher = None
    if topic_source is not None:
        watcher = TopicWatcher(
            topic_source, on_topics_change, poll_timeout=5.0, applied=topics
        )
        watcher.start()

    def shutdown(*_):
        # QuitChannel analog (/root/reference/message/message.go:20)
        state["stop"].set()

    signal.signal(signal.SIGINT, shutdown)
    signal.signal(signal.SIGTERM, shutdown)

    import time as _time

    deadline = (
        None if args.max_runtime is None else _time.monotonic() + args.max_runtime
    )
    failed = None
    while not state["stop"].is_set():
        if deadline is not None and _time.monotonic() >= deadline:
            break
        q = state["query"]
        # exception(), not isActive: a topic reload stops the old query
        # on purpose, and only a query that died sets an exception
        failed = q.exception() if q is not None else None
        if failed is not None:
            print(f"ingest query failed: {failed}", file=sys.stderr, flush=True)
            break
        if args.min_batches is not None:
            lp = q.lastProgress if q is not None else None
            # lastProgress reports the last COMMITTED batch id
            if lp is not None and lp.get("batchId", -1) + 1 >= args.min_batches:
                break
        state["stop"].wait(timeout=0.25)
    if watcher:
        watcher.stop()
    q = state["query"]
    if q is not None:
        q.stop()
        if failed is None:
            q.awaitTermination(60)
    spark.stop()
    return 0 if failed is None else 1


if __name__ == "__main__":
    sys.exit(main())
