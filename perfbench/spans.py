"""Spans around the calls into each layer, and Spark event-log attribution.

In a traced run the benchmark wraps the public functions it calls, and
those one layer calls on another, at the names the callers resolve them
by, so every such call records a span and spans nest as the calls do;
its own spans mark each unit of work. Each span sets the Spark job group
to its own id; the event log then attributes every job's task metrics
to the innermost enclosing span. Spans stay in memory and are written
as JSON when the run ends. Jobs started on threads the program creates
itself carry no job group and are left unattributed.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import threading
import time

# span-name prefix -> layer (the package's modules; the session layer is
# timed directly, as session.start_s)
LAYERS = (
    "companyfacts", "statements", "ratios", "sinks", "materialize",
    "api_queries", "serving", "api", "text", "cc",
)
# layers whose spans run Spark jobs
JOB_LAYERS = ("sinks", "materialize", "serving", "text", "cc")
SPARK_METRICS = (
    "jobs", "tasks", "task_run_s", "task_cpu_s", "task_wait_s", "gc_s",
    "shuffle_write_bytes", "spill_bytes",
)

_GROUP = "spark.jobGroup.id"


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


class Tracer:
    """Span recorder. Disabled, ``span`` costs one branch and records
    nothing, so the same workload code serves traced and untraced runs."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = {
            "id": next(self._ids), "name": name,
            "parent": parent["id"] if parent else None,
            "request": request or (parent["request"] if parent else None),
            **attrs,
        }
        prev_group = self.sc.getLocalProperty(_GROUP)
        self.sc.setLocalProperty(_GROUP, f"span-{sp['id']}")
        stack.append(sp)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(_GROUP, prev_group)
            self.spans.append(sp)  # list.append is atomic under the GIL

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a spanned wrapper until ``restore``."""
        fn = getattr(module, attr)

        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        wrapped.__wrapped__ = fn
        self._patches.append((module, attr, fn))
        setattr(module, attr, wrapped)

    def restore(self) -> None:
        for module, attr, fn in reversed(self._patches):
            setattr(module, attr, fn)
        self._patches.clear()

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f)


def instrument(tracer: Tracer) -> None:
    """Wrap every public function the benchmark or one layer calls on
    another, at the name the caller resolves it by, so each call records
    a span (nested as the calls nest)."""
    from sec_xbrl_finwarehouse_spark import api, materialize, serving, sinks
    from sec_xbrl_finwarehouse_spark.plans import api_queries, text_queries
    from sec_xbrl_finwarehouse_spark.sources import companyfacts

    for fn in ("read_companyfacts_json", "flatten_facts", "dedup_facts",
               "derive_filings"):
        tracer.wrap(companyfacts, fn, f"companyfacts.{fn}")
    for fn in ("append_if_absent", "upsert", "write_replace", "read_table"):
        tracer.wrap(sinks, fn, f"sinks.{fn}")
    tracer.wrap(materialize, "build_marts_from_facts",
                "materialize.build_marts_from_facts")
    tracer.wrap(materialize, "build_statements", "statements.build_statements")
    tracer.wrap(materialize, "compute_ratios", "ratios.compute_ratios")
    tracer.wrap(api, "create_app", "api.create_app")
    for fn in ("company_profile", "company_ratios", "screener"):
        tracer.wrap(api_queries, fn, f"api_queries.{fn}")
    tracer.wrap(serving, "collect_response", "serving.collect_response")
    for fn in ("q_doc_minhash_lsh_dedup", "q_doc_dedup_clusters",
               "q_doc_dedup_keep_best"):
        tracer.wrap(text_queries, fn, f"text.{fn}")
    tracer.wrap(text_queries, "hash_min_components", "cc.hash_min_components")


# --------------------------------------------------------------------------
# analysis
# --------------------------------------------------------------------------

def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(s["id"], ())):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def ancestors(spans_by_id: dict[int, dict], sid: int):
    while sid is not None:
        s = spans_by_id[sid]
        yield s
        sid = s["parent"]


def read_event_log(log_dir: str) -> dict[int, dict]:
    """Event log -> span id -> summed task metrics of the jobs whose job
    group is that span (``jobs``, ``tasks``, times in seconds, bytes,
    input records read and output records/bytes written)."""
    stage_job: dict[int, int] = {}
    job_span: dict[int, int | None] = {}
    stage_submit: dict[int, int] = {}
    per_span: dict[int, dict] = {}

    def acc(span_id) -> dict:
        return per_span.setdefault(span_id, dict.fromkeys(
            SPARK_METRICS + ("records_read", "output_bytes", "output_records",
                             "output_files"), 0))

    for path in sorted(glob.glob(f"{log_dir}/*")):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(_GROUP) or ""
                    sid = int(group[5:]) if group.startswith("span-") else None
                    job_span[ev["Job ID"]] = sid
                    for st in ev.get("Stage IDs", ()):
                        stage_job.setdefault(st, ev["Job ID"])
                    acc(sid)["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    if info.get("Submission Time") is not None:
                        stage_submit[info["Stage ID"]] = info["Submission Time"]
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    job = stage_job.get(ev["Stage ID"])
                    a = acc(job_span.get(job))
                    info = ev["Task Info"]
                    a["tasks"] += 1
                    a["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    a["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    sub = stage_submit.get(ev["Stage ID"])
                    if sub is not None:
                        a["task_wait_s"] += max(0, info["Launch Time"] - sub) / 1e3
                    a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    a["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))
                    a["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
                    a["records_read"] += m.get("Input Metrics", {}).get("Records Read", 0)
                    out = m.get("Output Metrics", {})
                    a["output_bytes"] += out.get("Bytes Written", 0)
                    a["output_records"] += out.get("Records Written", 0)
                    a["output_files"] += out.get("Records Written", 0) > 0
    return per_span
