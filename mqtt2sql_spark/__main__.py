"""Runnable daemon: ``python -m mqtt2sql_spark`` — the Spark-native
equivalent of the reference's CLI entry point (mqtt2sql.py:965-978).

Argument surface mirrors the reference's (mqtt2sql.py:132-366) where the
concept survives the re-architecture:

    -c/--configfile F     reference-style config file (mqtt2sql.conf
                          grammar: key=value, [sections] ignored, arrays);
                          command-line parameters overwrite it
    --mqtt URL            broker/topic subscription (B1 grammar,
                          mqtt2sql.conf:30-33); repeatable — EVERY URL is
                          subscribed, not just the first
    --mqtt-host/--mqtt-port/--mqtt-username/--mqtt-password
                          piecewise endpoint (deprecated aliases --host,
                          --mqtthost, ... accepted like mqtt2sql.py:178-185);
                          composed into a URL when --mqtt is absent
    --topic T             extra subscription topic, repeatable
                          (--mqtt-topic alias; mqtt2sql.py:186-192)
    --exclude-topic T     exact-match exclusion (A2, mqtt2sql.py:193-199);
                          repeatable
    --mqtt-cafile/--mqtt-certfile/--mqtt-keyfile/--mqtt-insecure
                          TLS material (mqtt2sql.py:200-227; aliases
                          --cafile/--certfile/--keyfile/--insecure)
    --keepalive S         MQTT keepalive (--mqtt-keepalive alias)
    --storage-dir DIR     parquet table root (replaces --sql DSN: the
                          mqtt/mqtt_history tables live here)
    --checkpoint-dir DIR  Structured Streaming checkpoint (replaces the
                          reference's nothing — its at-most-once model
                          had no recovery state)
    --wal-dir DIR         persistent source WAL (restart recovery)
    --timezone TZ         session timezone (A12, default UTC,
                          mqtt2sql.py:125)
    --max-per-trigger N   micro-batch admission bound (B4 backpressure,
                          the semaphore-50 analogue of mqtt2sql.py:461)
    --transport KIND      paho (real broker) | file (spool dir) | memory
    --spool-dir DIR       file-transport input directory
    --logfile F           strftime-expanded logfile name (B6,
                          mqtt2sql.py:403-407)
    -v/--verbose, -d/--debug
                          repeatable verbosity counts (B6)
    --once                drain what is available, then exit (smoke /
                          batch-catchup mode; the daemon default runs
                          until SIGTERM like the reference's
                          loop_forever, mqtt2sql.py:899-924)
"""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m mqtt2sql_spark",
        description="MQTT → Spark latest-value + history tables",
    )
    p.add_argument("-c", "--configfile", default=None,
                   help="config file (mqtt2sql.conf grammar); command-line "
                   "parameters overwrite config-file ones")
    p.add_argument("--mqtt", action="append", default=[],
                   help="mqtt[s]://user:pass@host:port/topic (repeatable; "
                   "every URL is subscribed)")
    # piecewise endpoint + deprecated aliases (mqtt2sql.py:178-185)
    p.add_argument("--mqtt-host", "--mqtthost", "--host", dest="mqtt_host",
                   default=None, help=argparse.SUPPRESS)
    p.add_argument("--mqtt-port", "--mqttport", "--port", dest="mqtt_port",
                   type=int, default=None, help=argparse.SUPPRESS)
    p.add_argument("--mqtt-username", "--mqttusername", "--username",
                   dest="mqtt_username", default=None, help=argparse.SUPPRESS)
    p.add_argument("--mqtt-password", "--mqttpassword", "--password",
                   dest="mqtt_password", default=None, help=argparse.SUPPRESS)
    p.add_argument("--topic", "--mqtt-topic", dest="topic", action="append",
                   default=[], help="extra subscription topic (repeatable)")
    p.add_argument("--exclude-topic", "--mqtt-exclude-topic",
                   dest="exclude_topic", action="append", default=[],
                   help="exact topic to drop (repeatable)")
    p.add_argument("--mqtt-cafile", "--cafile", dest="mqtt_cafile",
                   default=None, help="TLS CA file")
    p.add_argument("--mqtt-certfile", "--certfile", dest="mqtt_certfile",
                   default=None, help="TLS client cert")
    p.add_argument("--mqtt-keyfile", "--keyfile", dest="mqtt_keyfile",
                   default=None, help="TLS client key")
    p.add_argument("--mqtt-insecure", "--insecure", dest="mqtt_insecure",
                   action="store_true", help="suppress TLS verification")
    p.add_argument("--keepalive", "--mqtt-keepalive", dest="keepalive",
                   type=int, default=60)
    p.add_argument("--storage-dir", required=True)
    p.add_argument("--checkpoint-dir", required=True)
    p.add_argument("--wal-dir", default=None)
    p.add_argument("--timezone", default="UTC")
    p.add_argument("--max-per-trigger", type=int, default=10_000)
    p.add_argument("--transport", default="paho",
                   choices=("paho", "file", "memory"))
    p.add_argument("--spool-dir", default=None)
    p.add_argument("--memory-key", default="default")
    p.add_argument("--logfile", default=None,
                   help="logfile name, strftime-expanded per write")
    p.add_argument("-v", "--verbose", action="count", default=0)
    p.add_argument("-d", "--debug", action="count", default=0)
    p.add_argument("--once", action="store_true")
    return p


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    """Two-pass parse: extract -c/--configfile first, expand the file to
    argv tokens PREPENDED before the real command line (command line wins
    for scalar options — the reference's precedence, mqtt2sql.conf:10)."""
    from mqtt2sql_spark.config import config_file_argv

    argv = list(sys.argv[1:] if argv is None else argv)
    pre = argparse.ArgumentParser(add_help=False)
    pre.add_argument("-c", "--configfile", default=None)
    known, _ = pre.parse_known_args(argv)
    if known.configfile:
        argv = config_file_argv(known.configfile) + argv
    return build_parser().parse_args(argv)


def compose_url(args: argparse.Namespace) -> str | None:
    """Piecewise --mqtt-host/... → URL (used when --mqtt is absent)."""
    if not args.mqtt_host:
        return None
    from urllib.parse import quote

    cred = ""
    if args.mqtt_username:
        cred = quote(args.mqtt_username, safe="")
        if args.mqtt_password:
            cred += ":" + quote(args.mqtt_password, safe="")
        cred += "@"
    port = f":{args.mqtt_port}" if args.mqtt_port else ""
    scheme = "mqtts" if (args.mqtt_cafile or args.mqtt_certfile) else "mqtt"
    return f"{scheme}://{cred}{args.mqtt_host}{port}"


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)

    from mqtt2sql_spark.config import parse_mqtt_url
    from mqtt2sql_spark.logutil import configure_logging
    from mqtt2sql_spark.session import get_spark
    from mqtt2sql_spark.sinks.upsert import MqttUpsertSink
    from mqtt2sql_spark.sources.mqtt import MqttDataSource
    from mqtt2sql_spark.streaming.ops import install_graceful_shutdown
    from mqtt2sql_spark.streaming.pipeline import start_ingest

    log = configure_logging(args.verbose, args.debug, args.logfile)

    urls = list(args.mqtt)
    if not urls:
        composed = compose_url(args)
        if composed:
            urls = [composed]

    spark = get_spark(
        "mqtt2sql_spark-daemon",
        extra_conf={"spark.sql.session.timeZone": args.timezone},
    )
    spark.dataSource.register(MqttDataSource)

    subscribe_patterns: list[str] = list(args.topic)
    # validate the URL grammar up front (fail fast like the reference's
    # parseargs) and collect subscription patterns; ALL URLs reach the
    # transport — every subscription is actually made
    for url in urls:
        subscribe_patterns.extend(parse_mqtt_url(url).topics)
    options = {
        "transport": args.transport,
        "maxPerTrigger": str(args.max_per_trigger),
        "timezone": args.timezone,
        "keepalive": str(args.keepalive),
        "url": " ".join(urls),
        "topics": ",".join(args.topic),
        "excludeTopics": ",".join(args.exclude_topic),
        "spoolDir": args.spool_dir,
        "walDir": args.wal_dir,
        "caFile": args.mqtt_cafile,
        "certFile": args.mqtt_certfile,
        "keyFile": args.mqtt_keyfile,
        "tlsInsecure": "true" if args.mqtt_insecure else None,
        "memoryKey": args.memory_key if args.transport == "memory" else None,
    }
    # unset options are left out, so the source applies its own defaults
    reader = spark.readStream.format("mqtt").options(
        **{k: v for k, v in options.items() if v}
    )

    log.info("starting query (transport=%s, once=%s)", args.transport, args.once)
    query = start_ingest(
        reader.load(),
        MqttUpsertSink(spark, args.storage_dir),
        args.checkpoint_dir,
        subscribe_patterns=subscribe_patterns or None,
        exclude_topics=args.exclude_topic or None,
        once=args.once,
    )
    install_graceful_shutdown(spark)
    query.awaitTermination()
    return 0


if __name__ == "__main__":
    sys.exit(main())
