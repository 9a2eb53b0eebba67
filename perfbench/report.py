"""Reduce a run's records, spans and counters to named metrics.

Every metric is ``{"value": v, "unit": u}``; timings also carry ``n``, the
number of samples they rest on (``stats.summary``).
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict

from perfbench import procstat
from perfbench.stats import summary

READ_KINDS = ("search", "query", "query_ann", "classify")
HTTP_KINDS = ("search", "query", "query_ann", "classify", "insert", "remove",
              "count")


def _m(value, unit: str, **extra) -> dict:
    return {"value": float(value), "unit": unit, **extra}


def client_metrics(records: list[dict], elapsed: float, setup_s: float,
                   points_written: int, round_rates: list[float]) -> dict:
    """Everything the client saw: set-up, throughput and per-kind latency.
    Timings carry ``n`` and, for p90, how many samples lie beyond it.
    Throughput is the median over the window's rounds, which all hold the
    same mix, so a burst of load from outside that slows one round does
    not carry the run."""
    out = {"setup_s": _m(setup_s, "s"),
           "rps": _m(statistics.median(round_rates), "req/s",
                     n=len(records), rounds=len(round_rates),
                     whole_window=sum(r["ok"] for r in records) / elapsed),
           "ingest_points_per_s": _m(points_written / elapsed, "points/s")}
    groups = {"read": READ_KINDS, "search": ("search",), "query": ("query",),
              "classify": ("classify",), "query_ann": ("query_ann",),
              "insert": ("insert",), "delete": ("remove",),
              "insert_batch": ("insert_batch",)}
    for name, kinds in groups.items():
        s = summary([r["ms"] for r in records if r["ok"] and r["kind"] in kinds])
        out[f"{name}_p50_ms"] = _m(s.get("p50", 0.0), "ms", n=s["n"])
        out[f"{name}_p90_ms"] = _m(s.get("p90", 0.0), "ms", n=s["n"],
                                   beyond=s.get("p90_beyond", 0))
    return out


def _per_call_ms(totals: dict, name: str) -> float:
    calls, secs = totals.get(name, (0, 0.0))
    return 1000.0 * secs / calls if calls else 0.0


# client-side figures repeated in the traced run under the names the service
# exposes; gated end-to-end numbers come from untraced runs only
CLIENT_IN_TRACE = ("search_p90_ms", "query_p50_ms", "query_p90_ms",
                   "classify_p50_ms", "query_ann_p50_ms", "insert_p50_ms",
                   "delete_p50_ms", "ingest_points_per_s")


def per_layer(client, tracer, client_m: dict, hits: tuple[int, int],
              written0: int | None, written1: int | None, stamps: dict,
              catalog: dict) -> dict:
    recs = client.records
    n_ops = len(recs)
    totals = tracer.totals()
    selft = tracer.self_times()
    out: dict[str, dict] = {}

    # HTTP layer: handler time, and what the client waited beyond it
    handler = {}
    for sid, name, s, e, parent, op in tracer.spans:
        if name == "http_app.handler":
            handler[op] = handler.get(op, 0.0) + (e - s)
    http_recs = [r for r in recs if r["kind"] in HTTP_KINDS
                 and f"op{r['n']}" in handler]
    out["http_app.handler_ms"] = _m(_per_call_ms(totals, "http_app.handler"), "ms")
    transport = [r["ms"] - 1000.0 * handler[f"op{r['n']}"] for r in http_recs]
    out["http_app.transport_ms"] = _m(
        sum(transport) / len(transport) if transport else 0.0, "ms")

    # service layer
    # every /search and /query probes the plan memo first
    reads = sum(r["kind"] in ("search", "query", "query_ann") for r in recs)
    out["api.plan_hit_ratio"] = _m(hits[0] / reads if reads else 0.0, "ratio")
    out["api.shape_hit_ratio"] = _m(hits[1] / reads if reads else 0.0, "ratio")
    for metric, span in (("api.search_construct_ms", "api.search"),
                         ("api.query_ms", "api.query"),
                         ("api.classify_ms", "api.classify"),
                         ("api.insert_ms", "api.insert"),
                         ("api.insert_batch_ms", "api.insert_batch"),
                         ("api.remove_ms", "api.remove"),
                         ("filters.compile_ms", "filters.compile"),
                         ("knn.construct_ms", "knn.construct"),
                         ("embedding.mock_vector_ms", "embedding.mock_vector"),
                         ("collections.read_for_user_ms", "collections.read_for_user"),
                         ("collections.search_ann_ms", "collections.search_ann"),
                         ("collections.build_ann_index_ms",
                          "collections.build_ann_index"),
                         ("collections.upsert_ms", "collections.upsert"),
                         ("collections.delete_where_ms", "collections.delete_where")):
        out[metric] = _m(_per_call_ms(totals, span), "ms",
                         calls=totals.get(span, (0, 0))[0])

    # self time per layer and op: where an op's wall time went
    layer_self: dict[str, float] = defaultdict(float)
    for name, secs in selft.items():
        layer_self[name.split(".")[0]] += secs
    for layer in ("client", "http_app", "api", "collections", "filters", "knn",
                  "embedding", "spark"):
        out[f"self.{layer}_ms_per_op"] = _m(
            1000.0 * layer_self.get(layer, 0.0) / n_ops, "ms")

    # Spark: actions from the driver, stage counters from the status store
    calls, secs = totals.get("spark.action", (0, 0.0))
    out["spark.action_ms"] = _m(1000.0 * secs / n_ops, "ms", calls=calls)
    st: dict[str, float] = defaultdict(float)
    for r in recs:
        for k, v in r.get("stages", {}).items():
            st[k] += v
    out["spark.jobs_per_op"] = _m(st["jobs"] / n_ops, "count")
    out["spark.stages_per_op"] = _m(st["stages"] / n_ops, "count")
    out["spark.tasks_per_op"] = _m(st["tasks"] / n_ops, "count")
    out["spark.executor_cpu_ms_per_op"] = _m(st["executor_cpu_ns"] / 1e6 / n_ops, "ms")
    out["spark.executor_run_ms_per_op"] = _m(st["executor_run_ms"] / n_ops, "ms")
    out["spark.input_bytes_per_op"] = _m(st["input_bytes"] / n_ops, "bytes")
    out["spark.shuffle_bytes_per_op"] = _m(
        (st["shuffle_read_bytes"] + st["shuffle_write_bytes"]) / n_ops, "bytes")
    out["spark.spill_bytes"] = _m(st["memory_spill_bytes"] + st["disk_spill_bytes"],
                                  "bytes")
    out["spark.failed_tasks"] = _m(st["failed_tasks"], "count")
    out["py4j.calls_per_op"] = _m(tracer.counters["py4j.calls"] / n_ops, "count")

    # catalog on disk: write amplification and space
    written = client.points_written
    dw = (written1 or 0) - (written0 or 0)
    out["collections.write_bytes_per_point"] = _m(dw / written if written else 0.0,
                                                  "bytes")
    live = procstat.tree_bytes(catalog["data_dir"])
    total = procstat.tree_bytes(catalog["root"])
    buckets = [d for d in os.listdir(catalog["data_dir"])
               if d.startswith("__bucket=")]
    out["collections.space_amp"] = _m(total / live if live else 0.0, "ratio")
    parquet = sum(f.endswith(".parquet") for _d, _s, fs in os.walk(catalog["data_dir"])
                  for f in fs)
    out["collections.files_per_bucket"] = _m(
        parquet / len(buckets) if buckets else parquet, "count")

    # client-side figures, and failures
    for name in CLIENT_IN_TRACE:
        out[f"client.{name}"] = client_m[name]
    out["ops.fail_ratio"] = _m(sum(not r["ok"] for r in recs) / n_ops, "ratio")

    # process context and the tracer's own cost
    w0, w1 = stamps["window_start"], stamps["window_end"]
    out["proc.driver_cpu_s"] = _m(w1["driver_cpu_s"] - w0["driver_cpu_s"], "s")
    out["proc.jvm_cpu_s"] = _m((w1["jvm_cpu_s"] or 0) - (w0["jvm_cpu_s"] or 0), "s")
    out["proc.steal_s"] = _m((w1["steal_s"] or 0) - (w0["steal_s"] or 0), "s")
    out["proc.loadavg_start"] = _m(stamps["start"]["loadavg"][0], "load")
    out["proc.loadavg_end"] = _m(w1["loadavg"][0], "load")
    out["trace.overhead_ms_per_op"] = _m(1000.0 * tracer.overhead_s / n_ops, "ms")
    return out
