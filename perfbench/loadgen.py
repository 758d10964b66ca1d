"""Seeded load generators for the benchmark.

Everything here is derived from the seed alone, so the benchmark
process (which needs the expected outputs) and the server process
(which serves the inputs) build identical data independently.

- ``poll_inputs``: per-broker Jolokia bean sets for the poll workload,
  plus the seeded set of failing URLs.
- ``expected_poll_counts``: what one poll cycle must deliver — ES docs
  (one per MBean of every URL that did not fail) and rewritten rows (one
  per attribute the rule table matches, first match wins), computed with
  Python's ``re`` over the same match string jmx_exporter builds.
- ``serve``: a fake Jolokia endpoint (one port per broker) and a fake
  Elasticsearch ``_bulk`` endpoint on 127.0.0.1, run in a separate
  process (``python3 loadgen.py serve ...``) so its CPU and memory stay
  out of the measured process tree.
- ``dashboard_series`` / ``dashboard_docs``: the PromQL series table and
  the Kibana documents table for the dashboard workload.
"""

from __future__ import annotations

import argparse
import http.server
import json
import os
import random
import re
import selectors
import socket
import sys
import threading
from collections import Counter as _Tally
from concurrent.futures import ThreadPoolExecutor
from typing import NamedTuple

WILDCARD = "kafka.*:*"
MEMORY = "java.lang:type=Memory"
RULES_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "rules", "kafka_rules.yml")

# poll_wide: serving brokers (one wildcard read of 1,025 MBeans each,
# plus the memory bean) and one more broker whose port refuses
WIDE_BROKERS = 2
WIDE_TOPICS, WIDE_PARTITIONS = 25, 12
REQUEST_NAMES = ["TotalTimeMs", "RequestQueueTimeMs", "LocalTimeMs", "RemoteTimeMs", "ResponseQueueTimeMs"]
REQUEST_TYPES = [
    "Produce", "FetchConsumer", "FetchFollower", "Metadata", "OffsetCommit",
    "OffsetFetch", "JoinGroup", "Heartbeat", "ListOffsets", "ApiVersions",
]
PERCENTILES = ["50th", "75th", "95th", "98th", "99th", "999th"]


class Counter(NamedTuple):
    """A monotonically advancing attribute: ``base + step * k`` on the
    k-th read of its URL."""

    base: int
    step: int


# ---------------------------------------------------------------------------
# poll inputs
# ---------------------------------------------------------------------------
def _rate_attrs(rng: random.Random) -> dict:
    return {
        "Count": Counter(rng.randrange(10**6, 10**9), rng.randrange(100, 10**5)),
        "MeanRate": round(rng.uniform(0, 5000), 3),
        "OneMinuteRate": round(rng.uniform(0, 5000), 3),
    }


def _wide_beans(rng: random.Random) -> dict:
    beans: dict = {}
    topics = sorted(rng.sample(range(10000), WIDE_TOPICS))
    for t in topics:
        topic = f"topic-{t:04d}"
        for p in range(WIDE_PARTITIONS):
            tp = f"topic={topic},partition={p}"
            beans[f"kafka.log:type=Log,name=Size,{tp}"] = {
                "Value": Counter(rng.randrange(10**9), rng.randrange(10**4, 10**6))
            }
            beans[f"kafka.cluster:type=Partition,name=UnderReplicated,{tp}"] = {"Value": 0}
            beans[
                "kafka.server:type=FetcherLagMetrics,name=ConsumerLag,"
                f"clientId=ReplicaFetcherThread-0-{rng.randrange(1, 4)},{tp}"
            ] = {"Value": rng.randrange(5000)}
        for name in ("MessagesInPerSec", "BytesInPerSec", "BytesOutPerSec"):
            attrs = _rate_attrs(rng)
            attrs.update(
                FiveMinuteRate=round(rng.uniform(0, 5000), 3),
                FifteenMinuteRate=round(rng.uniform(0, 5000), 3),
                RateUnit="SECONDS",
                EventType="bytes" if name.startswith("Bytes") else "messages",
            )
            beans[f"kafka.server:type=BrokerTopicMetrics,name={name},topic={topic}"] = attrs
    for name in REQUEST_NAMES:
        for req in REQUEST_TYPES:
            attrs = {f"{p}Percentile": round(rng.uniform(0, 1000), 3) for p in PERCENTILES}
            attrs.update(
                Mean=round(rng.uniform(0, 50), 3),
                Max=round(rng.uniform(500, 5000), 3),
                Min=0.0,
                Count=Counter(rng.randrange(10**7), rng.randrange(10, 10**4)),
                StdDev=round(rng.uniform(0, 100), 3),
            )
            beans[f"kafka.network:type=RequestMetrics,name={name},request={req}"] = attrs
    return beans


def _memory_attrs(rng: random.Random) -> dict:
    heap = rng.randrange(256, 4096) * 2**20
    return {
        "HeapMemoryUsage": {"init": heap // 4, "used": Counter(heap // 8, 4096), "committed": heap // 2, "max": heap},
        "NonHeapMemoryUsage": {"init": 7667712, "used": rng.randrange(5 * 10**7, 10**8), "committed": 10**8, "max": -1},
        "ObjectPendingFinalizationCount": 0,
        "Verbose": False,
    }


class PollInputs(NamedTuple):
    brokers: list  # per broker: {pattern: value dict served for that URL}
    refused: int  # broker index whose port refuses connections
    http_500: set  # {(broker index, pattern)} answered with HTTP 500


def poll_inputs(seed: int) -> PollInputs:
    """Per-broker bean sets for the poll workload.  The shape (broker
    count, beans per broker, failing-URL count) is fixed; the seed picks
    names, values and which URLs fail: both URLs of one broker whose port
    refuses connections, and one memory-bean URL answering HTTP 500."""
    rng = random.Random(f"poll_wide:{seed}")
    brokers = [
        {WILDCARD: _wide_beans(rng), MEMORY: _memory_attrs(rng)}
        for _ in range(WIDE_BROKERS + 1)
    ]
    refused, bad = rng.sample(range(len(brokers)), 2)
    return PollInputs(brokers, refused, {(bad, MEMORY)})


def load_rule_patterns() -> list:
    import yaml

    with open(RULES_PATH, encoding="utf-8") as fh:
        doc = yaml.safe_load(fh)
    # the rule table uses only regex constructs Java and Python read alike
    return [re.compile("^.*(?:" + str(r["pattern"]) + ").*$") for r in doc["rules"]]


def _attr_text(v) -> str:
    """An attribute value as ``from_json(..., map<string,string>)`` renders it."""
    if isinstance(v, Counter):
        return str(v.base)
    if isinstance(v, dict):
        return json.dumps({k: (x.base if isinstance(x, Counter) else x) for k, x in v.items()})
    return json.dumps(v)


def matched_attrs(beans: dict, patterns: list) -> int:
    """Attributes of ``beans`` that some rule matches: jmx_exporter's
    ``domain<k1=v1, k2=v2><>attr: value`` string, tested rule by rule."""
    n = 0
    for mbean, attrs in beans.items():
        domain, _, props = mbean.partition(":")
        head = f"{domain}<{', '.join(props.split(','))}><>"
        for attr, v in attrs.items():
            s = f"{head}{attr}: {_attr_text(v)}"
            if any(p.fullmatch(s) for p in patterns):
                n += 1
    return n


def expected_poll_counts(inputs: PollInputs) -> tuple[int, int, int, int]:
    """(ok URLs, failed URLs, ES docs, rewritten rows) for one cycle."""
    patterns = load_rule_patterns()
    ok = failed = docs = rows = 0
    for i, urls in enumerate(inputs.brokers):
        for pattern, value in urls.items():
            if i == inputs.refused or (i, pattern) in inputs.http_500:
                failed += 1
                continue
            ok += 1
            beans = value if pattern == WILDCARD else {pattern: value}
            docs += len(beans)
            rows += matched_attrs(beans, patterns)
    return ok, failed, docs, rows


# ---------------------------------------------------------------------------
# body templates: pre-rendered JSON with counter slots
# ---------------------------------------------------------------------------
def _template(obj) -> list:
    """JSON text of ``obj`` split around its Counter values:
    ``[text, Counter, text, Counter, ..., text]``."""
    parts: list = []
    buf: list = []

    def emit(o):
        if isinstance(o, Counter):
            parts.append("".join(buf))
            buf.clear()
            parts.append(o)
        elif isinstance(o, dict):
            buf.append("{")
            for i, (k, v) in enumerate(o.items()):
                if i:
                    buf.append(",")
                buf.append(json.dumps(k) + ":")
                emit(v)
            buf.append("}")
        else:
            buf.append(json.dumps(o))

    emit(obj)
    parts.append("".join(buf))
    return parts


def render(parts: list, k: int) -> bytes:
    return "".join(
        p if isinstance(p, str) else str(p.base + p.step * k) for p in parts
    ).encode()


def jolokia_envelope(pattern: str, value: dict) -> dict:
    return {"request": {"mbean": pattern, "type": "read"}, "value": value, "status": 200}


# ---------------------------------------------------------------------------
# servers
# ---------------------------------------------------------------------------
class _Port(http.server.HTTPServer):
    request_queue_size = 128

    def __init__(self, handler, app, broker: int = -1):
        super().__init__(("127.0.0.1", 0), handler)
        self.app = app
        self.broker = broker


class _Handler(http.server.BaseHTTPRequestHandler):
    def log_message(self, *_args):
        pass

    def _reply(self, code: int, body: bytes, ctype: str = "application/json"):
        self.send_response(code)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):
        code, body = self.server.app.get(self.server.broker, self.path)
        self._reply(code, body)

    def do_POST(self):
        n = int(self.headers.get("Content-Length", "0"))
        code, body = self.server.app.post(self.path, self.rfile.read(n))
        self._reply(code, body)


class FakeJolokia:
    """Serves ``/jolokia/read/<pattern>`` per broker port; each URL's
    counters advance by one step per read."""

    def __init__(self, inputs: PollInputs):
        self.inputs = inputs
        self.templates = [
            {p: _template(jolokia_envelope(p, v)) for p, v in urls.items()}
            for urls in inputs.brokers
        ]
        self.reads = _Tally()
        self.lock = threading.Lock()

    def get(self, broker: int, path: str):
        prefix = "/jolokia/read/"
        pattern = path[len(prefix):] if path.startswith(prefix) else None
        parts = self.templates[broker].get(pattern)
        if parts is None:
            return 404, b'{"status":404}'
        if (broker, pattern) in self.inputs.http_500:
            return 500, b'{"status":500,"error":"injected failure"}'
        with self.lock:
            k = self.reads[(broker, pattern)]
            self.reads[(broker, pattern)] += 1
        return 200, render(parts, k)

    def post(self, path, body):
        return 405, b"{}"


class FakeElasticsearch:
    """``POST /<index>/_bulk``: validates each action/document line pair
    and counts documents per ``createdDateTime`` (one value per poll
    cycle).  ``GET /_bench/stats`` returns the tallies."""

    ACTION = {"index": {"_type": "doc"}}

    def __init__(self):
        self.lock = threading.Lock()
        self.posts = 0
        self.bytes = 0
        self.invalid = 0
        self.by_ts = _Tally()

    def get(self, _broker, path):
        if path != "/_bench/stats":
            return 404, b"{}"
        with self.lock:
            stats = {
                "posts": self.posts, "bytes": self.bytes,
                "invalid": self.invalid, "by_ts": dict(self.by_ts),
            }
        return 200, json.dumps(stats).encode()

    def post(self, path, body):
        m = re.fullmatch(r"/([^/]+)/_bulk", path)
        if not m:
            return 404, b'{"error":"no handler"}'
        index = m.group(1)
        lines = body.decode("utf-8").split("\n")
        if lines and lines[-1] == "":
            lines.pop()
        by_ts = _Tally()
        invalid = len(lines) % 2
        items = []
        for action, doc in zip(lines[::2], lines[1::2]):
            try:
                ok_action = json.loads(action) == self.ACTION
                d = json.loads(doc)
            except ValueError:
                invalid += 1
                continue
            if not ok_action or not isinstance(d, dict):
                invalid += 1
                continue
            by_ts[str(d.get("createdDateTime"))] += 1
            items.append({"index": {"_index": index, "_type": "doc", "status": 201, "result": "created"}})
        with self.lock:
            self.posts += 1
            self.bytes += len(body)
            self.invalid += invalid
            self.by_ts.update(by_ts)
        reply = {"took": 1, "errors": bool(invalid), "items": items}
        return 200, json.dumps(reply).encode()


def serve(seed: int, ready, stop_fd: int) -> None:
    """Run the fake endpoints until ``stop_fd`` reaches end of file.  The
    calling thread accepts on every port; ``nproc - 1`` pool threads
    answer requests, so the server uses no more than ``nproc`` threads."""
    inputs = poll_inputs(seed)
    jolokia = FakeJolokia(inputs)
    es = FakeElasticsearch()
    brokers = [_Port(_Handler, jolokia, i) for i in range(len(inputs.brokers))]
    es_port = _Port(_Handler, es)
    ports = [s.server_address[1] for s in brokers]
    brokers[inputs.refused].server_close()
    ports[inputs.refused] = _closed_port()
    servers = [s for i, s in enumerate(brokers) if i != inputs.refused] + [es_port]
    sel = selectors.DefaultSelector()
    for s in servers:
        sel.register(s, selectors.EVENT_READ)
    sel.register(stop_fd, selectors.EVENT_READ)
    ready({"brokers": ports, "es": es_port.server_address[1]})
    with ThreadPoolExecutor(max(1, (os.cpu_count() or 1) - 1)) as pool:
        running = True
        while running:
            for key, _ in sel.select():
                if key.fileobj == stop_fd:
                    running = bool(os.read(stop_fd, 4096))
                    continue
                srv = key.fileobj
                try:
                    conn, addr = srv.get_request()
                except OSError:
                    continue
                pool.submit(_answer, srv, conn, addr)
    sel.close()
    for s in servers:
        s.server_close()


def _answer(srv, conn, addr):
    try:
        srv.finish_request(conn, addr)
    except Exception:  # noqa: BLE001  (one bad request must not stop the server)
        srv.handle_error(conn, addr)
    finally:
        srv.shutdown_request(conn)


def _closed_port() -> int:
    """A loopback port with no listener (connections are refused)."""
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


# ---------------------------------------------------------------------------
# dashboard tables
# ---------------------------------------------------------------------------
DASH_BROKERS, DASH_TOPICS, DASH_REQUESTS = 6, 12, 4
DASH_GROUPS, DASH_LAG_TOPICS, DASH_LAG_PARTITIONS = 3, 4, 4
LE_BOUNDS = ["0.005", "0.01", "0.05", "0.1", "0.5", "1", "5", "+Inf"]


def dashboard_series(seed: int, start_s: int, end_s: int, scrape_s: int):
    """The PromQL series table as a pyarrow Table: counters, a latency
    histogram with ``le`` buckets, a heap gauge and consumer lag, one
    sample per series per scrape interval over ``[start_s, end_s)``."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    ts = np.arange(start_s, end_s, scrape_s, dtype=np.int64)
    n = len(ts)
    cols = {c: [] for c in ("name", "ts", "value", "topic", "broker", "le", "request", "group", "partition")}

    def add(name, values, **labels):
        cols["name"].append(np.full(n, name, dtype=object))
        cols["ts"].append(ts * 1_000_000)
        cols["value"].append(values.astype(np.float64))
        for key in ("topic", "broker", "le", "request", "group", "partition"):
            cols[key].append(np.full(n, labels.get(key), dtype=object))

    def counter(rate_hi):
        # integer increments keep every stored value exact
        return np.cumsum(rng.integers(0, rate_hi, n)) + rng.integers(0, 10**6)

    for b in range(DASH_BROKERS):
        broker = f"broker-{b}"
        for t in range(DASH_TOPICS):
            topic = f"topic-{t:02d}"
            add("messages_in_total", counter(5000), topic=topic, broker=broker)
            add("bytes_in_total", counter(5 * 10**6), topic=topic, broker=broker)
        for r in range(DASH_REQUESTS):
            request = REQUEST_TYPES[r]
            per_bucket = [rng.integers(0, 50, n) for _ in LE_BOUNDS]
            cum = np.cumsum(np.cumsum(per_bucket, axis=0), axis=1)
            for le, values in zip(LE_BOUNDS, cum):
                add("request_latency_seconds_bucket", values, broker=broker, le=le, request=request)
        add("heap_used_bytes", rng.integers(2**28, 2**32, n), broker=broker)
    for g in range(DASH_GROUPS):
        for t in range(DASH_LAG_TOPICS):
            for p in range(DASH_LAG_PARTITIONS):
                add("consumer_lag", rng.integers(0, 10**5, n),
                    group=f"group-{g}", topic=f"topic-{t:02d}", partition=str(p))
    return pa.table({
        "name": pa.array(np.concatenate(cols["name"]), pa.string()),
        "ts": pa.array(np.concatenate(cols["ts"]), pa.timestamp("us", tz="UTC")),
        "value": pa.array(np.concatenate(cols["value"]), pa.float64()),
        **{k: pa.array(np.concatenate(cols[k]), pa.string())
           for k in ("topic", "broker", "le", "request", "group", "partition")},
    })


DOC_HOSTS, DOC_BEANS = 24, 40
DOC_SERVER_TYPES = ["KafkaBroker", "KafkaConnect", "ZooKeeper"]
DOC_DOMAINS = ["server", "network", "log", "controller"]


def dashboard_docs(seed: int, start_s: int, end_s: int, scrape_s: int):
    """The Kibana documents table (schema.METRICS_SCHEMA columns): one
    document per (host, bean) per scrape interval."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed + 1)
    ts = np.arange(start_s, end_s, scrape_s, dtype=np.int64)
    hosts = [f"10.0.{h // 8}.{h % 8 + 10}:8778" for h in range(DOC_HOSTS)]
    beans = [
        (f"kafka.{d}:type=T{b},name=N{b}", f"kafka.{d}", {"type": f"T{b}", "name": f"N{b}"})
        for b, d in enumerate(DOC_DOMAINS[b % len(DOC_DOMAINS)] for b in rng.permutation(DOC_BEANS))
    ]
    host_i, bean_i, ts_i = (a.ravel() for a in np.meshgrid(
        np.arange(DOC_HOSTS), np.arange(DOC_BEANS), np.arange(len(ts)), indexing="ij"))
    n = len(ts_i)
    count = rng.integers(0, 10**6, n)
    value = rng.integers(0, 10**4, n)
    # hosts and beans are scraped at distinct offsets inside the interval,
    # so "latest document" (top_hits by created_ts) has no ties
    created_ms = ts[ts_i] * 1000 + host_i * 1000 + bean_i * 10

    def map_col(keys_per_row: list, values: list, value_type):
        offsets = np.arange(0, n * len(keys_per_row) + 1, len(keys_per_row), dtype=np.int32)
        keys = np.tile(np.array(keys_per_row, dtype=object), n)
        items = np.column_stack(values).ravel()
        return pa.MapArray.from_arrays(offsets, pa.array(keys, pa.string()), pa.array(items, value_type))

    props_type = np.array([b[2]["type"] for b in beans], dtype=object)[bean_i]
    props_name = np.array([b[2]["name"] for b in beans], dtype=object)[bean_i]
    return pa.table({
        "mbean_name": pa.array(np.array([b[0] for b in beans], dtype=object)[bean_i], pa.string()),
        "bean_domain": pa.array(np.array([b[1] for b in beans], dtype=object)[bean_i], pa.string()),
        "server_type": pa.array(np.array(DOC_SERVER_TYPES, dtype=object)[host_i % len(DOC_SERVER_TYPES)], pa.string()),
        "host_name": pa.array(np.array(hosts, dtype=object)[host_i], pa.string()),
        "created_ts": pa.array(created_ms * 1000, pa.timestamp("us", tz="UTC")),
        "created_ms": pa.array(created_ms, pa.int64()),
        "bean_props": map_col(["type", "name"], [props_type, props_name], pa.string()),
        "attributes": map_col(["Count", "Value"], [count.astype(str).astype(object), value.astype(str).astype(object)], pa.string()),
        "num_attributes": map_col(["Count", "Value"], [count.astype(np.float64), value.astype(np.float64)], pa.float64()),
    })


# ---------------------------------------------------------------------------
# server process entry point
# ---------------------------------------------------------------------------
def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description="fake Jolokia + Elasticsearch endpoints")
    p.add_argument("command", choices=["serve"])
    p.add_argument("--seed", type=int, required=True)
    args = p.parse_args(argv)

    def ready(ports):
        print(json.dumps(ports), flush=True)

    # the parent closes our stdin to stop the server
    serve(args.seed, ready, sys.stdin.fileno())
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
