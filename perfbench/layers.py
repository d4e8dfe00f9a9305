"""Per-layer metrics of a traced pass: span times, event-log task metrics
attributed by job group, and the workload's own counts.

Work counts and times are per unit of work: per warehouse build or dedup
chain for the write-side layers, per request for the read side
(``api_queries``, ``serving``, ``api``). A layer the workload does not
use reports 0.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from gen import median, percentile_tail
from spans import JOB_LAYERS, LAYERS, SPARK_METRICS, ancestors, layer_of, self_times

ENDPOINTS = ("company", "ratios", "screener")
READ_LAYERS = ("api_queries", "serving", "api")

@dataclass
class Measured:
    """What one measured pass of a workload returns."""
    op_ms: list[float]                  # latency of each unit of work
    attempted: int
    failed: int
    errors: list[str] = field(default_factory=list)
    units: dict[str, int] = field(default_factory=dict)   # write / read
    stats: dict[str, float] = field(default_factory=dict)  # layer counts
    samples: dict[str, list[float]] = field(default_factory=dict)
    cpu_s: float = 0.0                  # program CPU spent on that work


UNITS: dict[str, str] = {
    "session.start_s": "s",
    "companyfacts.compose_ms": "ms",
    "companyfacts.items_read": "count",
    "companyfacts.facts_kept": "count",
    "companyfacts.keep_ratio": "ratio",
    "statements.compose_ms": "ms",
    "ratios.compose_ms": "ms",
    "statements.rows": "count",
    "sinks.append_if_absent_s": "s",
    "sinks.upsert_s": "s",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "sinks.bytes_per_changed_row": "bytes",
    "sinks.stored_bytes_ratio": "ratio",
    "materialize.jobs": "count",
    **{f"api_queries.compose_ms.{e}": "ms" for e in ENDPOINTS},
    **{f"serving.collect_ms.{e}.{q}": "ms" for e in ENDPOINTS for q in ("p50", "tail")},
    "serving.jobs_per_request": "count",
    "serving.records_read_per_row_returned": "ratio",
    "api.queue_ms": "ms",
    "client.gen_late_ms": "ms",
    "text.minhash_lsh_s": "s",
    "text.verified_pairs": "count",
    "cc.hash_min_s": "s",
    "cc.components": "count",
    "text.keep_best_s": "s",
    "dedup.pair_recall": "ratio",
    **{f"spark.{m}.{lay}": ("count" if m in ("jobs", "tasks") else
                            "bytes" if m.endswith("bytes") else "s")
       for m in SPARK_METRICS for lay in JOB_LAYERS},
    **{f"self_s.{lay}": "s" for lay in LAYERS},
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "trace.spans": "count",
    "trace.op_p50_ms_traced": "ms",
    "trace.overhead_frac": "ratio",
}


def per_layer(spans: list[dict], per_span: dict, m, session_start_s: float,
              untraced_op_ms: list[float]) -> dict[str, float]:
    """``m`` is the traced pass; ``untraced_op_ms`` the wall-clock times
    of an equally warm untraced pass, reported as ``op_p50_ms`` and
    ``op_tail_ms`` and the reference for the tracing overhead."""
    by_id = {s["id"]: s for s in spans}
    endpoint_of = {s["request"]: s.get("endpoint")
                   for s in spans if s["name"] == "api.request"}

    def unit(layer: str) -> int:
        return m.units["read" if layer in READ_LAYERS else "write"]

    def total_s(prefix: str) -> float:
        return sum(s["end"] - s["start"] for s in spans
                   if s["name"].startswith(prefix))

    def durations(name: str) -> list[float]:
        return [s["end"] - s["start"] for s in spans if s["name"] == name]

    def per_request(prefix: str, endpoint: str) -> list[float]:
        acc: dict[str, float] = {}
        for s in spans:
            if s["name"].startswith(prefix) and endpoint_of.get(s["request"]) == endpoint:
                acc[s["request"]] = acc.get(s["request"], 0.0) + s["end"] - s["start"]
        return [v * 1e3 for v in acc.values()]

    def under(layer: str, key: str) -> float:
        """Spark metric ``key`` of jobs run inside any span of ``layer``."""
        tot = 0.0
        for sid, a in per_span.items():
            if sid is not None and sid in by_id and any(
                    layer_of(p["name"]) == layer for p in ancestors(by_id, sid)):
                tot += a[key]
        return tot

    def own(layer: str, key: str) -> float:
        """Spark metric ``key`` of jobs whose innermost span is in ``layer``."""
        return sum(a[key] for sid, a in per_span.items()
                   if sid in by_id and layer_of(by_id[sid]["name"]) == layer)

    st = m.stats
    w = unit("sinks")
    out: dict[str, float] = {"session.start_s": session_start_s}
    out["companyfacts.compose_ms"] = total_s("companyfacts.") * 1e3 / w
    items = st.get("companyfacts.items_read", 0)
    kept = st.get("companyfacts.facts_kept", 0)
    out["companyfacts.items_read"] = items
    out["companyfacts.facts_kept"] = kept
    out["companyfacts.keep_ratio"] = kept / items if items else 0.0
    out["statements.compose_ms"] = total_s("statements.") * 1e3 / w
    out["ratios.compose_ms"] = total_s("ratios.") * 1e3 / w
    out["statements.rows"] = st.get("statements.rows", 0)
    out["sinks.append_if_absent_s"] = total_s("sinks.append_if_absent") / w
    out["sinks.upsert_s"] = total_s("sinks.upsert") / w
    out["sinks.bytes_written"] = own("sinks", "output_bytes") / w
    out["sinks.files_written"] = own("sinks", "output_files") / w
    changed = st.get("changed_rows", 0)
    out["sinks.bytes_per_changed_row"] = (
        out["sinks.bytes_written"] / changed if changed else 0.0)
    out["sinks.stored_bytes_ratio"] = st.get("sinks.stored_bytes_ratio", 0.0)
    out["materialize.jobs"] = under("materialize", "jobs") / w
    for e in ENDPOINTS:
        comp = per_request("api_queries.", e)
        out[f"api_queries.compose_ms.{e}"] = median(comp) if comp else 0.0
        coll = per_request("serving.collect_response", e)
        out[f"serving.collect_ms.{e}.p50"] = median(coll) if coll else 0.0
        out[f"serving.collect_ms.{e}.tail"] = percentile_tail(coll)[1] if coll else 0.0
    r = unit("serving")
    out["serving.jobs_per_request"] = own("serving", "jobs") / r
    rows = st.get("rows_returned", 0)
    out["serving.records_read_per_row_returned"] = (
        own("serving", "records_read") / rows if rows else 0.0)
    for k in ("api.queue_ms", "client.gen_late_ms"):
        xs = m.samples.get(k, [])
        out[k] = percentile_tail(xs)[1] if xs else 0.0
    for k, name in (("text.minhash_lsh_s", "text.minhash_lsh"),
                    ("text.keep_best_s", "text.keep_best")):
        d = durations(name)
        out[k] = median(d) if d else 0.0
    out["cc.hash_min_s"] = total_s("cc.") / w
    for k in ("text.verified_pairs", "cc.components", "dedup.pair_recall"):
        out[k] = st.get(k, 0)
    for lay in JOB_LAYERS:
        for key in SPARK_METRICS:
            out[f"spark.{key}.{lay}"] = own(lay, key) / unit(lay)
    selfs = self_times(spans)
    for lay in LAYERS:
        out[f"self_s.{lay}"] = sum(
            v for sid, v in selfs.items()
            if layer_of(by_id[sid]["name"]) == lay) / unit(lay)
    traced = median(m.op_ms) if m.op_ms else 0.0
    untraced = median(untraced_op_ms) if untraced_op_ms else 0.0
    out["op_p50_ms"] = untraced
    out["op_tail_ms"] = percentile_tail(untraced_op_ms)[1] if untraced_op_ms else 0.0
    out["trace.spans"] = len(spans)
    out["trace.op_p50_ms_traced"] = traced
    out["trace.overhead_frac"] = traced / untraced - 1.0 if untraced else 0.0
    return out

