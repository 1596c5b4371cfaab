"""MQTT streaming source — PySpark 4 Python Data Source API
(SURVEY.md §7.1 M4, §2 A1/B2-B4).

MQTT has no replayable log, so the source buffers received messages in a
WAL and serves Structured Streaming's offset contract from it
(SURVEY.md §7.3 #6 — the one real impedance mismatch between the
reference's at-most-once model and Spark's recovery model):

    initialOffset → {"index": 0}
    read(start)   → drain the transport, stamp arrival time (the
                    reference's processing-time semantics,
                    mqtt2sql.py:522), append to WAL, return (rows, end)
    readBetweenOffsets(start, end) → WAL slice (failure replay)
    commit(end)   → trim WAL below end

The in-memory WAL makes the source at-least-once within a driver's
lifetime; pointing `walDir` at persistent storage makes it at-least-once
ACROSS driver restarts: stamped rows are fsync-appended to
`walDir/wal.log` before the batch is served, the committed offset lands
in `walDir/committed`, and init rebuilds base/wal from both (the file is
compacted once 50k committed rows accumulate).

Transports are pluggable: `paho` (real broker; import-gated — the lib is
not in this container) and `memory` (deterministic in-process queue for
tests).  Options:
    url            one or more mqtt[s]://user:pass@host:port/topic URLs,
                   whitespace-separated (config.py grammar); every URL's
                   topic is subscribed on its own client
    topics         comma-separated EXTRA topics subscribed on every
                   endpoint (the reference's --mqtt-topic)
    excludeTopics  comma-separated exact-match exclusion (A2 pushdown)
    transport      "paho" (default) | "memory" | "file"
    memoryKey      queue name for the memory transport
    maxPerTrigger  max messages drained per micro-batch (B4 backpressure,
                   the semaphore-50 analogue of mqtt2sql.py:461)
    timezone       tz for arrival stamps (naive wall-clock in this zone,
                   the reference's processing-time semantics)
    walDir         directory for the persistent WAL (restart recovery)
    caFile/certFile/keyFile/tlsInsecure
                   TLS material forwarded to paho tls_set /
                   tls_insecure_set (mqtt2sql.py:874-879)
"""

from __future__ import annotations

import datetime as dt
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

MESSAGE_SCHEMA = StructType(
    [
        StructField("ts", TimestampType()),
        StructField("topic", StringType()),
        StructField("value", BinaryType()),
        StructField("qos", IntegerType()),
        StructField("retain", IntegerType()),
        # arrival sequence number (WAL index): the deterministic per-key
        # tie-breaker the engine orders on (SURVEY.md §7.3 #2) — the
        # reference has no ordering at all under same-second timestamps
        StructField("event_id", LongType()),
    ]
)

# test transport queues, keyed by memoryKey (driver-side only)
_MEMORY_QUEUES: dict[str, list[tuple[str, bytes, int, int]]] = {}


def memory_queue(key: str) -> list[tuple[str, bytes, int, int]]:
    """Get/create the in-process message queue for a memory transport."""
    return _MEMORY_QUEUES.setdefault(key, [])


class MemoryTransport:
    def __init__(self, key: str) -> None:
        self.key = key

    def connect(self) -> None:
        pass

    def poll(self, max_n: int) -> list[tuple[str, bytes, int, int]]:
        q = memory_queue(self.key)
        out, q[:] = q[:max_n], q[max_n:]
        return out

    def close(self) -> None:
        pass


class FileSpoolTransport:
    """Polls a spool directory of message files — the durable-WAL bridge
    deployment shape (a tiny paho daemon appends spool files; Spark
    consumes them).  Each file holds lines
    ``topic<TAB>hex(payload)<TAB>qos<TAB>retain``; every message is
    delivered exactly once (per reader lifetime), files in sorted-name
    order.  A poll that stops inside a file remembers how many of its
    messages were delivered and resumes there; a file is done only once
    all of it was delivered."""

    def __init__(self, spool_dir: str) -> None:
        self.spool_dir = spool_dir
        self._done: set[str] = set()
        self._offset: dict[str, int] = {}  # messages delivered per file

    def connect(self) -> None:
        pass

    def poll(self, max_n: int) -> list[tuple[str, bytes, int, int]]:
        import os

        out: list[tuple[str, bytes, int, int]] = []
        try:
            names = sorted(os.listdir(self.spool_dir))
        except FileNotFoundError:
            return out
        for name in names:
            if len(out) >= max_n:
                break
            # '.'-prefixed = hidden/in-progress; '_'-prefixed = metadata
            # (_manifest, _SUCCESS — the spool SINK's commit log)
            if name in self._done or name.startswith((".", "_")):
                continue
            path = os.path.join(self.spool_dir, name)
            with open(path) as f:
                lines = [ln for ln in f.read().split("\n") if ln]
            start = self._offset.pop(name, 0)
            take = lines[start : start + max_n - len(out)]
            for line in take:
                topic, hexpayload, qos, retain = line.split("\t")
                out.append(
                    (topic, bytes.fromhex(hexpayload), int(qos), int(retain))
                )
            if start + len(take) < len(lines):
                self._offset[name] = start + len(take)
            else:
                self._done.add(name)
        return out

    def close(self) -> None:
        pass


class PahoTransport:
    """Real broker transport (requires the public `paho-mqtt` package).

    Accepts one or more broker URLs (whitespace-separated — a URL cannot
    contain whitespace) and optional extra subscription topics applied to
    every endpoint (the reference's repeatable ``--mqtt-topic``,
    mqtt2sql.py:186-192).  One client per endpoint; every subscription is
    actually MADE at the broker — topic coverage never relies on post-hoc
    DataFrame filters.

    TLS mirrors the reference (mqtt2sql.py:874-879): any of
    cafile/certfile/keyfile ⇒ ``tls_set(ca_certs, certfile, keyfile,
    cert_reqs=CERT_REQUIRED)`` + ``tls_insecure_set(insecure)``; an
    ``mqtts://`` scheme with no files still gets a default ``tls_set()``.
    """

    def __init__(
        self,
        urls: str,
        keepalive: int = 60,
        extra_topics: tuple[str, ...] = (),
        ca_file: str | None = None,
        cert_file: str | None = None,
        key_file: str | None = None,
        tls_insecure: bool = False,
    ) -> None:
        try:
            import paho.mqtt.client as mqtt  # noqa: F401
        except ImportError as e:  # pragma: no cover - lib absent in container
            raise ImportError(
                "paho-mqtt is not installed; use transport=memory for "
                "local tests or install paho-mqtt for a real broker"
            ) from e
        from mqtt2sql_spark.config import parse_mqtt_url

        self.endpoints = tuple(parse_mqtt_url(u) for u in urls.split())
        if not self.endpoints:
            raise ValueError("PahoTransport needs at least one URL")
        self.keepalive = keepalive
        self.extra_topics = tuple(extra_topics)
        self.ca_file = ca_file
        self.cert_file = cert_file
        self.key_file = key_file
        self.tls_insecure = tls_insecure
        self._buffer: list[tuple[str, bytes, int, int]] = []
        self._clients: list = []

    def connect(self) -> None:
        import paho.mqtt.client as mqtt

        for ep in self.endpoints:
            client = mqtt.Client()
            if ep.username:
                client.username_pw_set(ep.username, ep.password)
            if self.ca_file or self.cert_file or self.key_file:
                import ssl

                client.tls_set(
                    ca_certs=self.ca_file,
                    certfile=self.cert_file,
                    keyfile=self.key_file,
                    cert_reqs=ssl.CERT_REQUIRED,
                )
                client.tls_insecure_set(self.tls_insecure)
            elif ep.use_tls:
                client.tls_set()
                if self.tls_insecure:
                    client.tls_insecure_set(True)

            topics = tuple(ep.topics) + self.extra_topics

            def on_connect(cl, userdata, flags, rc, _topics=topics):
                for t in _topics:
                    cl.subscribe(t, qos=0)

            def on_message(cl, userdata, msg):
                self._buffer.append(
                    (msg.topic, bytes(msg.payload), int(msg.qos), int(msg.retain))
                )

            client.on_connect = on_connect
            client.on_message = on_message
            client.connect(ep.host, ep.port, self.keepalive)
            client.loop_start()
            self._clients.append(client)

    def poll(self, max_n: int) -> list[tuple[str, bytes, int, int]]:
        out, self._buffer = self._buffer[:max_n], self._buffer[max_n:]
        return out

    def close(self) -> None:  # pragma: no cover
        for client in self._clients:
            client.loop_stop()
            client.disconnect()
        self._clients = []


def _make_transport(options: dict):
    kind = options.get("transport", "paho")
    if kind == "memory":
        return MemoryTransport(options.get("memorykey", "default"))
    if kind == "file":
        return FileSpoolTransport(options["spooldir"])
    if kind == "paho":
        topics = tuple(
            t for t in options.get("topics", "").split(",") if t
        )
        return PahoTransport(
            options.get("url", "mqtt://localhost"),
            int(options.get("keepalive", "60")),
            extra_topics=topics,
            ca_file=options.get("cafile") or None,
            cert_file=options.get("certfile") or None,
            key_file=options.get("keyfile") or None,
            tls_insecure=options.get("tlsinsecure", "false").lower()
            in ("true", "1", "yes"),
        )
    raise ValueError(f"unknown transport {kind!r}")


class MqttStreamReader(SimpleDataSourceStreamReader):
    # rewrite the WAL file once this many committed (purged) rows
    # accumulate on disk — bounds file growth at O(uncommitted + 50k)
    _COMPACT_AFTER = 50_000

    def __init__(self, options: dict) -> None:
        import zoneinfo

        self.options = options
        self.transport = _make_transport(options)
        self.transport.connect()
        self.max_per_trigger = int(options.get("maxpertrigger", "10000"))
        excl = options.get("excludetopics", "")
        self.exclude = {t for t in excl.split(",") if t}
        # arrival stamps are naive wall-clock in the configured timezone —
        # the reference's processing-time semantics (mqtt2sql.py:522 stamps
        # in the tz the daemon renders in); the daemon passes --timezone
        # here AND as spark.sql.session.timeZone, so the stored instant and
        # the rendered wall-clock agree
        self._zone = zoneinfo.ZoneInfo(options.get("timezone", "UTC"))
        self.wal: list[tuple] = []
        self.base = 0  # stream offset of wal[0]
        self.wal_dir = options.get("waldir")
        self._purged_in_file = 0
        if self.wal_dir:
            import os

            os.makedirs(self.wal_dir, exist_ok=True)
            self._wal_path = os.path.join(self.wal_dir, "wal.log")
            self._committed_path = os.path.join(self.wal_dir, "committed")
            self._recover()

    # -- persistent WAL (walDir) ------------------------------------------

    @staticmethod
    def _encode_row(row: tuple) -> str:
        from urllib.parse import quote

        ts, topic, payload, qos, retain, event_id = row
        return (
            f"{event_id}\t{ts.isoformat()}\t{quote(topic, safe='')}"
            f"\t{payload.hex()}\t{qos}\t{retain}\n"
        )

    @staticmethod
    def _decode_row(line: str) -> tuple:
        from urllib.parse import unquote

        event_id, ts, topic, payload, qos, retain = line.rstrip("\n").split("\t")
        return (
            dt.datetime.fromisoformat(ts),
            unquote(topic),
            bytes.fromhex(payload),
            int(qos),
            int(retain),
            int(event_id),
        )

    def _recover(self) -> None:
        """Rebuild base/wal from walDir: committed-offset replay after a
        driver restart returns the same uncommitted slices (at-least-once
        across restarts, not just within a driver's lifetime)."""
        import os

        committed = 0
        if os.path.exists(self._committed_path):
            with open(self._committed_path) as f:
                committed = int(f.read().strip() or 0)
        rows: list[tuple] = []
        if os.path.exists(self._wal_path):
            with open(self._wal_path) as f:
                for line in f:
                    if line.strip():
                        rows.append(self._decode_row(line))
        rows.sort(key=lambda r: r[5])
        self.wal = [r for r in rows if r[5] >= committed]
        if self.wal:
            self.base = self.wal[0][5]
        else:
            self.base = max(committed, rows[-1][5] + 1 if rows else 0)
        self._purged_in_file = len(rows) - len(self.wal)

    def _append_to_wal_file(self, rows: list[tuple]) -> None:
        import os

        with open(self._wal_path, "a") as f:
            f.writelines(self._encode_row(r) for r in rows)
            f.flush()
            os.fsync(f.fileno())

    def _compact_wal_file(self) -> None:
        import os

        tmp = self._wal_path + ".tmp"
        with open(tmp, "w") as f:
            f.writelines(self._encode_row(r) for r in self.wal)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._wal_path)
        self._purged_in_file = 0

    # -- offset contract ---------------------------------------------------

    def initialOffset(self) -> dict:
        return {"index": self.base}

    def _stamp(self, msgs) -> list[tuple]:
        now = dt.datetime.now(self._zone).replace(tzinfo=None)
        next_id = self.base + len(self.wal)
        out = []
        for topic, payload, qos, retain in msgs:
            if topic in self.exclude:  # A2 pushdown (exact match)
                continue
            out.append((now, topic, payload, qos, retain, next_id))
            next_id += 1
        return out

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        fresh = self._stamp(self.transport.poll(self.max_per_trigger))
        self.wal.extend(fresh)
        if fresh and self.wal_dir:
            self._append_to_wal_file(fresh)
        end_index = self.base + len(self.wal)
        lo = start["index"] - self.base
        rows = self.wal[max(lo, 0) :]
        return iter(rows), {"index": end_index}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        lo = start["index"] - self.base
        hi = end["index"] - self.base
        return iter(self.wal[max(lo, 0) : max(hi, 0)])

    def commit(self, end: dict) -> None:
        import os

        cut = end["index"] - self.base
        if cut > 0:
            self.wal = self.wal[cut:]
            self.base = end["index"]
            if self.wal_dir:
                tmp = self._committed_path + ".tmp"
                with open(tmp, "w") as f:
                    f.write(str(self.base))
                os.replace(tmp, self._committed_path)
                self._purged_in_file += cut
                if self._purged_in_file >= self._COMPACT_AFTER:
                    self._compact_wal_file()


class MqttDataSource(DataSource):
    """spark.readStream.format("mqtt") after
    spark.dataSource.register(MqttDataSource)."""

    @classmethod
    def name(cls) -> str:
        return "mqtt"

    def schema(self) -> StructType:
        return MESSAGE_SCHEMA

    def simpleStreamReader(self, schema: StructType) -> MqttStreamReader:
        return MqttStreamReader(
            {k.lower(): v for k, v in self.options.items()}
        )
