"""The dashboard workload: the read side.  A Grafana-style dashboard of
PromQL panels in range mode (the last 6 h at a 60 s step) over a series
table, and Kibana visualizations over a documents table in
``schema.METRICS_SCHEMA`` shape.  One client renders the panels in
order, closed loop; an op is one panel query (plan build + collect).

The reference Grafana/Kibana dashboards are not available, so the PromQL
panels take their expression shapes from ``plans/promql_queries.py``
(sum-by of rate, topk of summed rates, histogram_quantile over ``le``
buckets, vector/vector division, *_over_time) and the Kibana panels the
agg families of ``plans/kibana_queries.py``."""

from __future__ import annotations

import contextlib
import datetime as dt
import hashlib
import json
import os
import time
import traceback

import loadgen
import measure

from kafka_metrics_exporter_spark.kibana import compile_visualization
from kafka_metrics_exporter_spark.promql import compile_promql

END_S = 1_790_000_000 - 1_790_000_000 % 3600
START_S = END_S - 6 * 3600
STEP_S = 60.0
GRID = int((END_S - START_S) // STEP_S) + 1  # instants, both ends included
SERIES_SCRAPE_S, DOCS_SCRAPE_S = 60, 120
# untimed renders before the timed ones: a session's first render pays
# for class loading and code generation (about 4x a later render), and the
# second still runs about 1.5x while the JIT compiler catches up
WARMUP_RENDERS = 2

# (panel, expression, series per grid instant)
PROMQL_PANELS = [
    ("msgs_in_by_topic", "sum by (topic) (rate(messages_in_total[5m]))", loadgen.DASH_TOPICS),
    ("top5_bytes_in", "topk(5, sum by (topic) (rate(bytes_in_total[5m])))", 5),
    ("p99_request_latency",
     "histogram_quantile(0.99, sum by (le, request) (rate(request_latency_seconds_bucket[5m])))",
     loadgen.DASH_REQUESTS),
    ("bytes_per_msg", "sum(rate(bytes_in_total[5m])) / sum(rate(messages_in_total[5m]))", 1),
    ("lag_peak_group0", 'max_over_time(consumer_lag{group="group-0"}[10m])',
     loadgen.DASH_LAG_TOPICS * loadgen.DASH_LAG_PARTITIONS),
]


def _vis(*aggs) -> dict:
    return {"visState": json.dumps({"title": "panel", "type": "table", "aggs": list(aggs)})}


def _agg(agg_id: str, kind: str, schema: str, **params) -> dict:
    return {"id": agg_id, "type": kind, "schema": schema, "params": params}


# (panel, saved visualization, rows); terms order by a metric id — the
# compiler rejects orderBy "_key"/"_count"
KIBANA_PANELS = [
    ("hosts_by_avg_value", _vis(
        _agg("2", "terms", "bucket", field="host_name.keyword", size=10, order="desc", orderBy="1"),
        _agg("1", "avg", "metric", field="num_attributes.Value"),
    ), 10),
    ("max_count_10m", _vis(
        _agg("2", "date_histogram", "segment", field="created_ts", interval="10m", min_doc_count=1),
        _agg("1", "max", "metric", field="num_attributes.Count"),
    ), (END_S - START_S) // 600),
    ("domains_latest", _vis(
        _agg("2", "terms", "bucket", field="bean_domain.keyword", size=5, order="desc", orderBy="1"),
        _agg("1", "cardinality", "metric", field="host_name.keyword"),
        _agg("3", "top_hits", "metric", field="num_attributes.Count", aggregate="max",
             size=1, sortField="created_ts", sortOrder="desc"),
    ), len(loadgen.DOC_DOMAINS)),
]


def write_tables(seed: int, work: str) -> dict[str, tuple[str, int]]:
    import pyarrow.parquet as pq

    out = {}
    for name, table in (
        ("series", loadgen.dashboard_series(seed, START_S - 3600, END_S + 1, SERIES_SCRAPE_S)),
        ("docs", loadgen.dashboard_docs(seed, START_S, END_S, DOCS_SCRAPE_S)),
    ):
        path = os.path.join(work, f"{name}.parquet")
        pq.write_table(table, path)
        out[name] = (path, table.num_rows)
    return out


def _canonical(v):
    if isinstance(v, float):
        return float(f"{v:.6g}")  # summation order may differ in the last bits
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [_canonical(x) for x in v]
    return v


def result_hash(rows) -> str:
    canon = sorted(json.dumps([_canonical(v) for v in r], default=str) for r in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


class Panel:
    def __init__(self, layer: str, name: str, build, table: str, rows: int):
        self.layer, self.name, self.build, self.table, self.rows = layer, name, build, table, rows


def panels(spark, tables) -> list[Panel]:
    start = dt.datetime.fromtimestamp(START_S, dt.timezone.utc)
    end = dt.datetime.fromtimestamp(END_S, dt.timezone.utc)
    # opened once, like the index a dashboard queries; each op plans anew
    series = spark.read.parquet(tables["series"][0])
    docs = spark.read.parquet(tables["docs"][0])

    def promql(expr):
        return lambda: compile_promql(expr).evaluate_range(series, STEP_S, start=start, end=end)

    def kibana(vis):
        return lambda: compile_visualization(vis).evaluate(docs)

    grafana = [Panel("promql", n, promql(e), "series", g * GRID) for n, e, g in PROMQL_PANELS]
    kib = [Panel("kibana", n, kibana(v), "docs", r) for n, v, r in KIBANA_PANELS]
    # one board mixing both panel kinds, as real boards do
    return [grafana[0], kib[0], grafana[1], grafana[2], kib[1], grafana[3], grafana[4], kib[2]]


def run_op(sc, panel: Panel, traced: bool) -> tuple[float, float, list]:
    """(plan seconds, exec seconds, rows) of one panel query; traced ops
    tag plan-build jobs (eager pre-passes) apart from execution jobs."""

    def group(part):
        return measure.job_group(sc, f"{panel.layer}.{part}") if traced else contextlib.nullcontext()

    t0 = time.perf_counter()
    with group("plan"):
        df = panel.build()
    t1 = time.perf_counter()
    with group("exec"):
        rows = df.collect()
    return t1 - t0, time.perf_counter() - t1, rows


def _reference_hashes(path: str, hashes: dict) -> dict:
    """Hashes an earlier run with the same seed recorded (the first run
    records them)."""
    if os.path.exists(path):
        with open(path, encoding="utf-8") as fh:
            return json.load(fh)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(hashes, fh, indent=1, sort_keys=True)
    return hashes


def timed_renders(sc, dash, deadline: float, trace: bool, hashes: dict, recorded: dict):
    """Render the board until ``deadline``; every render that starts
    before it runs to its end, so each run times whole renders and the
    same panel mix.  The traced run queries each panel twice in a row,
    untraced then traced: the pair difference is the tracing overhead.
    Returns the ops ``(panel, plan_s, exec_s, ok, render, traced)`` and
    each render's time."""
    modes = (False, True) if trace else (False,)
    ops, renders = [], []
    while time.monotonic() < deadline:
        for p in dash:
            for traced in modes:
                try:
                    plan_s, exec_s, rows = run_op(sc, p, traced)
                    h = result_hash(rows)
                    ok = len(rows) == p.rows and h == hashes[p.name] == recorded.get(p.name)
                except Exception:  # noqa: BLE001  (a failed op is counted, the loop goes on)
                    traceback.print_exc()
                    plan_s, exec_s, ok = 0.0, 0.0, False
                ops.append((p, plan_s, exec_s, ok, len(renders), traced))
        renders.append(sum(o[1] + o[2] for o in ops if o[4] == len(renders)))
    return ops, renders


def run(session, seed: int, seconds: float, trace: bool, work: str, hash_file: str):
    tables = write_tables(seed, work)
    tree = measure.ProcTree()
    t0 = time.perf_counter()
    spark = session(trace)
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext
    dash = panels(spark, tables)
    # the first warm-up render's results are the references
    t1 = time.perf_counter()
    hashes = {p.name: result_hash(run_op(sc, p, False)[2]) for p in dash}
    warmup_renders = [time.perf_counter() - t1]
    for _ in range(WARMUP_RENDERS - 1):
        t1 = time.perf_counter()
        for p in dash:
            run_op(sc, p, False)
        warmup_renders.append(time.perf_counter() - t1)
    setup_s = time.perf_counter() - t0
    recorded = _reference_hashes(hash_file, hashes)

    with tree:
        cpu0, jvm0, steal0 = tree.cpu_parts(), measure.jvm_counters(sc), measure.host_steal_s()
        start = time.monotonic()
        ops, renders = timed_renders(sc, dash, start + seconds, trace, hashes, recorded)
        wall = time.monotonic() - start
        cpu = {k: v - cpu0[k] for k, v in tree.cpu_parts().items()}
        jvm = {k: v - jvm0[k] for k, v in measure.jvm_counters(sc).items()}
        steal_s = measure.host_steal_s() - steal0
    rss_mb = measure.settled_rss_mb(tree, sc)
    spark.stop()  # flushes the event log

    lat = [o[1] + o[2] for o in ops]
    failed = sum(1 for o in ops if not o[3])
    detail = {
        "workload": "dashboard", "ops": len(ops), "renders": [round(r, 4) for r in renders],
        "warmup_renders": [round(r, 4) for r in warmup_renders],
        "session_s": round(session_s, 4), "host_steal_s": round(steal_s, 2),
        "peak_rss_mb": round(tree.peak_rss / 2**20, 1),
        "cpu_s_by_part": {k: round(v, 2) for k, v in cpu.items()},
        "jvm_s": {k: round(v, 2) for k, v in jvm.items()},
        "series_rows": tables["series"][1], "docs_rows": tables["docs"][1],
        "failed_ops": [o[0].name for o in ops if not o[3]],
        "latency_s": {p.name: [round(o[1] + o[2], 4) for o in ops if o[0] is p] for p in dash},
    }
    if not trace:
        tail, beyond = measure.tail(lat)
        detail.update(tail_pct=measure.TAIL_PCT, tail_n=len(lat), tail_beyond=beyond)
        rows_read = sum(tables[o[0].table][1] for o in ops)
        metrics = {
            "setup_s": setup_s,
            "latency_p50_s": measure.median(lat),
            "latency_tail_s": tail,
            "samples_per_s": rows_read / wall,
            "render_p50_s": measure.median(renders),
            "rss_after_gc_mb": rss_mb,
            "cpu_s_per_op": sum(cpu.values()) / len(ops),
        }
        return len(ops), failed, metrics, detail

    jobs = measure.read_event_log(os.path.join(work, "eventlog"))
    layers = {"session.start_s": session_s}
    traced_ops = [o for o in ops if o[5]]
    for layer in ("promql", "kibana"):
        mine = [o for o in traced_ops if o[0].layer == layer]
        n = max(1, len(mine))
        plan, ex = jobs[f"{layer}.plan"], jobs[f"{layer}.exec"]
        layers.update({
            f"{layer}.plan_s": sum(o[1] for o in mine) / n,
            f"{layer}.eager_jobs": plan["jobs"] / n,
            f"{layer}.exec_s": sum(o[2] for o in mine) / n,
            f"{layer}.jobs": (plan["jobs"] + ex["jobs"]) / n,
            f"{layer}.tasks": (plan["tasks"] + ex["tasks"]) / n,
            f"{layer}.shuffle_mb": (plan["shuffle_mb"] + ex["shuffle_mb"]) / n,
            f"{layer}.cpu_s": (plan["cpu_s"] + ex["cpu_s"]) / n,
            f"{layer}.gc_s": (plan["gc_s"] + ex["gc_s"]) / n,
        })
    groups = [f"{layer}.{part}" for layer in ("promql", "kibana") for part in ("plan", "exec")]
    n = max(1, len(traced_ops))
    for key, field in measure.SPARK_PER_OP.items():
        layers[key] = sum(jobs[g][field] for g in groups) / n
    pairs = [(a[1] + a[2], b[1] + b[2]) for a, b in zip(ops[::2], ops[1::2])]
    detail.update(
        untraced_p50_s=measure.median([a for a, _ in pairs]),
        traced_p50_s=measure.median([b for _, b in pairs]),
        job_groups=measure.rounded(jobs, groups),
    )
    layers["trace.overhead_s"] = measure.median([b - a for a, b in pairs])
    return len(ops), failed, layers, detail
