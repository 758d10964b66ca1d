"""The poll workload: the daemon's streaming poll cycle — scrape every
Jolokia URL, normalize, rewrite through the rule table, ship to the
Elasticsearch bulk sink and the daily parquet sink — against the fake
endpoints of ``loadgen``.  One streaming query, one client, closed loop
(``processingTime="0 seconds"``: the next cycle starts as soon as the
previous one has committed)."""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys
import threading
import time
import traceback
import urllib.request
from collections import Counter

import loadgen
import measure
from pyspark.sql import functions as F

from kafka_metrics_exporter_spark.operators.normalize import normalize_scrapes
from kafka_metrics_exporter_spark.rules.compiler import load_rules_file, rewrite_metrics
from kafka_metrics_exporter_spark.sinks.es_bulk import (
    es_bulk_foreach_batch,
    http_bulk_poster,
    write_daily_parquet,
)
from kafka_metrics_exporter_spark.sources.jolokia import build_url_catalog, read_jolokia
from kafka_metrics_exporter_spark.streaming.pipeline import streaming_metrics

# untimed cycles before the timed ones: a session's first cycle pays for
# class loading and code generation (about 7x a later cycle), and for the
# next few the JIT compiler threads compete with the tasks for the CPUs
# (they run 1.3x-1.1x a later cycle); timing those would measure how fast
# the compiler got CPU, not the program
WARMUP_CYCLES = 5
LAYERS = ("sources", "normalize", "rules", "sinks.es", "sinks.parquet")


class FakeEndpoints:
    """The load generator process (fake Jolokia brokers + fake ES)."""

    def __init__(self, seed: int):
        self.proc = subprocess.Popen(
            [sys.executable, loadgen.__file__, "serve", "--seed", str(seed)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self.ports = json.loads(self.proc.stdout.readline())
        self.es_url = f"http://127.0.0.1:{self.ports['es']}"

    def es_stats(self) -> dict:
        with urllib.request.urlopen(f"{self.es_url}/_bench/stats", timeout=30) as resp:
            return json.loads(resp.read())

    def close(self):
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()


class Gate:
    """Wraps the foreachBatch function: runs the warm-up cycles, then the
    timed ones (untraced, and in the traced run a traced second half),
    and once the deadline has passed turns the next cycle into a no-op so
    the query can be stopped between cycles."""

    def __init__(self, untraced, traced=None):
        self.untraced = untraced
        self.traced = traced
        self.phase: dict[int, str] = {}
        self.errors: set[int] = set()
        self.warm = threading.Event()
        self.drained = threading.Event()
        self.trace_from = self.deadline = None

    def __call__(self, df, batch_id):
        now = time.monotonic()
        if self.deadline is not None and now >= self.deadline:
            self.phase[batch_id] = "drain"
            self.drained.set()
            return
        if self.deadline is None:
            phase = "warmup"
        elif self.traced is not None and now >= self.trace_from:
            phase = "traced"
        else:
            phase = "untraced"
        self.phase[batch_id] = phase
        try:
            (self.traced if phase == "traced" else self.untraced)(df, batch_id)
        except Exception:  # noqa: BLE001  (a failed cycle is counted, the loop goes on)
            traceback.print_exc()
            self.errors.add(batch_id)
        if phase == "warmup" and len(self.phase) >= WARMUP_CYCLES:
            self.warm.set()


def _wait(event: threading.Event, query, timeout: float):
    end = time.monotonic() + timeout
    while not event.wait(0.2):
        if not query.isActive or time.monotonic() > end:
            raise RuntimeError(f"poll loop stalled: {query.exception()}")


def _progress(query) -> dict[int, dict]:
    out = {}
    for p in query.recentProgress:
        p = json.loads(p.json)
        offset = p["sources"][0]["endOffset"]
        offset = json.loads(offset) if isinstance(offset, str) else offset
        start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        out[p["batchId"]] = {"ms": p["durationMs"], "ts": int(offset["ts"]), "start": start}
    return out


def _parquet_rows_by_ts(path: str) -> Counter:
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return Counter()
    col = pq.read_table(path, columns=["created_ts"]).column("created_ts")
    return Counter(col.cast(pa.timestamp("ms")).cast(pa.int64()).to_pylist())


def _files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                full = os.path.join(root, n)
                out[full] = os.path.getsize(full)
    return out


def run(session, seed: int, seconds: float, trace: bool, work: str):
    inputs = loadgen.poll_inputs(seed)
    ok_urls, failed_urls, exp_docs, exp_rows = loadgen.expected_poll_counts(inputs)
    rules, lower = load_rules_file(loadgen.RULES_PATH)
    pq_path = os.path.join(work, "sink-parquet")
    fake = FakeEndpoints(seed)
    try:
        servers = {"KafkaBroker": [f"127.0.0.1:{p}" for p in fake.ports["brokers"]]}
        catalog = build_url_catalog(servers)
        es_sink = es_bulk_foreach_batch(http_bulk_poster(fake.es_url))

        def sinks(metrics, batch_id):
            # one scrape feeds both sinks: persist around them, as the
            # engine's own promql_panels does around its panels
            metrics = metrics.persist()
            try:
                es_sink(metrics, batch_id)
                write_daily_parquet(rewrite_metrics(metrics, rules, lower), pq_path)
            finally:
                metrics.unpersist()

        layer_records: list[dict] = []

        def traced(raw, batch_id):
            rec: dict = {}
            sc = raw.sparkSession.sparkContext
            frames = []
            try:
                with measure.job_group(sc, "sources"), measure.timed(rec, "sources.self_s"):
                    raw = raw.persist()
                    frames.append(raw)
                    src = raw.agg(
                        F.count(F.lit(1)).alias("urls"),
                        F.sum((F.col("http_status") != 200).cast("int")).alias("failed"),
                        F.sum(F.length("body")).alias("body"),
                    ).first()
                with measure.job_group(sc, "normalize"), measure.timed(rec, "normalize.self_s"):
                    metrics = normalize_scrapes(raw).persist()
                    frames.append(metrics)
                    rec["normalize.samples_out"] = metrics.count()
                with measure.job_group(sc, "rules"), measure.timed(rec, "rules.self_s"):
                    rewritten = rewrite_metrics(metrics, rules, lower).persist()
                    frames.append(rewritten)
                    rec["rules.series_out"] = rewritten.count()
                with measure.job_group(sc, "trace.probe"):
                    rec["rules.attrs_in"] = metrics.agg(F.sum(F.size("attributes"))).first()[0]
                    # each URL yields either kafka beans or the memory bean
                    kept = metrics.select("host_name", F.col("bean_domain") == "java.lang").distinct().count()
                es0, files0 = fake.es_stats(), _files(pq_path)
                with measure.job_group(sc, "sinks.es"), measure.timed(rec, "sinks.es.self_s"):
                    es_sink(metrics, batch_id)
                es1 = fake.es_stats()
                with measure.job_group(sc, "sinks.parquet"), measure.timed(rec, "sinks.parquet.self_s"):
                    write_daily_parquet(rewritten, pq_path)
                files1 = _files(pq_path)
            finally:
                for f in reversed(frames):
                    f.unpersist()
            rec.update({
                "sources.urls": src["urls"],
                "sources.failed_urls": src["failed"],
                "sources.body_mb": (src["body"] or 0) / 2**20,
                "normalize.scrapes_dropped": src["urls"] - kept,
                "sinks.es.posts": es1["posts"] - es0["posts"],
                "sinks.es.docs": sum(es1["by_ts"].values()) - sum(es0["by_ts"].values()),
                "sinks.es.mb": (es1["bytes"] - es0["bytes"]) / 2**20,
                "sinks.es.post_failures": es1["invalid"] - es0["invalid"],
                "sinks.parquet.files": len(files1) - len(files0),
                "sinks.parquet.mb": (sum(files1.values()) - sum(files0.values())) / 2**20,
            })
            layer_records.append(rec)

        def untraced_raw(raw, batch_id):
            sinks(normalize_scrapes(raw), batch_id)

        tree = measure.ProcTree(exclude=(fake.proc.pid,))
        t0 = time.perf_counter()
        spark = session(trace)
        session_s = time.perf_counter() - t0
        if trace:
            # the two halves of streaming_metrics, so the traced cycle
            # can materialize the scrape before normalizing it
            stream = read_jolokia(spark, catalog, streaming=True)
            gate = Gate(untraced_raw, traced)
        else:
            stream = streaming_metrics(spark, catalog)
            gate = Gate(sinks)
        query = (
            stream.writeStream.foreachBatch(gate)
            .trigger(processingTime="0 seconds")
            .option("checkpointLocation", os.path.join(work, "checkpoint"))
            .start()
        )
        try:
            _wait(gate.warm, query, 600)
            setup_s = time.perf_counter() - t0
            with tree:
                cpu0, jvm0, steal0 = tree.cpu_parts(), measure.jvm_counters(spark.sparkContext), measure.host_steal_s()
                start = time.monotonic()
                gate.trace_from = start + seconds / 2
                gate.deadline = start + seconds
                _wait(gate.drained, query, seconds + 600)
                cpu = {k: v - cpu0[k] for k, v in tree.cpu_parts().items()}
                jvm = {k: v - jvm0[k] for k, v in measure.jvm_counters(spark.sparkContext).items()}
                steal_s = measure.host_steal_s() - steal0
        finally:
            query.stop()
        progress = _progress(query)
        rss_mb = measure.settled_rss_mb(tree, spark.sparkContext)
        spark.stop()  # flushes the event log
        es_by_ts = fake.es_stats()["by_ts"]
    finally:
        fake.close()

    pq_by_ts = _parquet_rows_by_ts(pq_path)
    timed_ids = sorted(b for b, ph in gate.phase.items() if ph in ("untraced", "traced") and b in progress)
    failed = [
        b for b in timed_ids
        if b in gate.errors
        or es_by_ts.get(str(progress[b]["ts"]), 0) != exp_docs
        or pq_by_ts.get(progress[b]["ts"], 0) != exp_rows
    ]
    lat = [progress[b]["ms"]["triggerExecution"] / 1000 for b in timed_ids]
    starts = [progress[b]["start"] for b in timed_ids]
    wall = starts[-1] + lat[-1] - starts[0]
    verified_docs = exp_docs * (len(timed_ids) - len(failed))
    detail = {
        "workload": "poll_wide", "cycles": len(timed_ids), "urls": ok_urls + failed_urls,
        "failed_urls": failed_urls, "expected_docs": exp_docs, "expected_rows": exp_rows,
        "failed_cycles": failed, "latency_s": [round(x, 4) for x in lat],
        "warmup_latency_s": [round(progress[b]["ms"]["triggerExecution"] / 1000, 4)
                             for b in sorted(gate.phase) if gate.phase[b] == "warmup" and b in progress],
        "session_s": round(session_s, 4), "host_steal_s": round(steal_s, 2),
        "peak_rss_mb": round(tree.peak_rss / 2**20, 1),
        "cpu_s_by_part": {k: round(v, 2) for k, v in cpu.items()},
        "jvm_s": {k: round(v, 2) for k, v in jvm.items()},
    }
    if not trace:
        tail, beyond = measure.tail(lat)
        detail.update(tail_pct=measure.TAIL_PCT, tail_n=len(lat), tail_beyond=beyond)
        intervals = [b - a for a, b in zip(starts, starts[1:])] or [lat[0]]
        metrics = {
            "setup_s": setup_s,
            "latency_p50_s": measure.median(lat),
            "latency_tail_s": tail,
            "samples_per_s": verified_docs / wall,
            "render_p50_s": measure.median(intervals),
            "rss_after_gc_mb": rss_mb,
            "cpu_s_per_op": sum(cpu.values()) / len(timed_ids),
        }
        return len(timed_ids), len(failed), metrics, detail

    n = len(layer_records)
    if not n:
        raise RuntimeError("no traced cycle completed; raise --seconds")
    layers = {k: sum(r[k] for r in layer_records) / n for k in layer_records[0]}
    layers["rules.match_ratio"] = layers["rules.series_out"] / layers["rules.attrs_in"]
    jobs = measure.read_event_log(os.path.join(work, "eventlog"))
    layers["sources.tasks"] = jobs["sources"]["tasks"] / n
    traced_ms = [progress[b]["ms"] for b in timed_ids if gate.phase[b] == "traced"]
    layers["streaming.overhead_s"] = measure.median([(m["triggerExecution"] - m.get("addBatch", 0)) / 1000 for m in traced_ms])
    layers["streaming.plan_s"] = measure.median([(m.get("queryPlanning", 0) + m.get("getBatch", 0) + m.get("latestOffset", 0)) / 1000 for m in traced_ms])
    layers["streaming.commit_s"] = measure.median([(m.get("walCommit", 0) + m.get("commitOffsets", 0)) / 1000 for m in traced_ms])
    layers["session.start_s"] = session_s
    for key, field in measure.SPARK_PER_OP.items():
        layers[key] = sum(jobs[g][field] for g in LAYERS) / n
    phase_lat = {ph: [progress[b]["ms"]["triggerExecution"] / 1000 for b in timed_ids if gate.phase[b] == ph]
                 for ph in ("untraced", "traced")}
    detail.update(
        untraced_p50_s=measure.median(phase_lat["untraced"]), traced_p50_s=measure.median(phase_lat["traced"]),
        traced_cycles=n, layer_sum_s=sum(layers[f"{l}.self_s"] for l in LAYERS),
        job_groups=measure.rounded(jobs, LAYERS),
    )
    layers["trace.overhead_s"] = detail["traced_p50_s"] - detail["untraced_p50_s"]
    return len(timed_ids), len(failed), layers, detail
