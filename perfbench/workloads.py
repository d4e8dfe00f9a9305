"""The workloads. Each drives the package only through its public
functions and checks every output against the generators' ground truth.

A workload has these steps, called by ``run.py``:

* ``generate()``  -- write the seeded inputs under the run directory
  (benchmark work, never timed);
* ``prepare(spark)`` -- untimed warm-up that lets lazy set-up and JIT
  compilation finish before anything is timed;
* ``open(spark, tracer)`` / ``close()`` -- the set-up a user pays on a
  fresh session before the workload can run (timed as ``setup_s``);
  ``check_open()`` checks what it built;
* ``measure(seconds, tracer)`` -- the timed loop; returns a Measured.
"""

from __future__ import annotations

import dataclasses
import json
import os
import pickle
import shutil
import subprocess
import sys
import time

import check
import gen
from layers import Measured
from server import Server
from spans import Tracer

from sec_xbrl_finwarehouse_spark import api, materialize, sinks
from sec_xbrl_finwarehouse_spark.plans import text_queries
from sec_xbrl_finwarehouse_spark.schemas import FACTS_NATURAL_KEY, FACTS_SCHEMA
from sec_xbrl_finwarehouse_spark.sources import companyfacts

HERE = os.path.dirname(os.path.abspath(__file__))

# open-loop request rate (per second): with three sender threads, as
# here, the package sustains about 14/s in a closed loop on local[3] of a
# 4-vCPU VM; at 40% of that, queueing stays short enough for run-to-run
# medians to repeat
SERVE_RATE = 6.0
WARM_REQUESTS = 100
MAX_ERRORS_SHOWN = 5
WARM_PATHS = ("/company/supplier%23000000001", "/ratios/SUPPLIER%23000000002?limit=5",
              "/screener?min_roe=0.1&limit=10")


def _parquet_rows(table_path: str) -> int:
    import pyarrow.parquet as pq

    cur = sinks.current_data_dir(table_path)
    return sum(pq.ParquetFile(os.path.join(cur, f)).metadata.num_rows
               for f in os.listdir(cur) if f.endswith(".parquet"))


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


def _cpu_s() -> float:
    """CPU seconds used so far by the program: this process (the app's
    request handlers, plan building in the package) and the JVM, its
    compiler and GC threads included."""
    from pyspark import SparkContext

    t = os.times()
    total = t.user + t.system
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/stat", encoding="ascii", errors="replace") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        total += (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    return total


def _rows(df) -> list[dict]:
    return [r.asDict() for r in df.collect()]


_CHILD = ("import pickle, sys; sys.path.insert(0, sys.argv[1]); import gen; "
          "name, args = pickle.load(sys.stdin.buffer); "
          "pickle.dump(getattr(gen, name)(*args), sys.stdout.buffer)")


def _in_child(fn, *args):
    """``gen.fn(*args)`` run in a fresh Python process, so the generator's
    memory never counts in this process's peak RSS. A plain child process,
    waited for before this returns: nothing of it outlives the call."""
    out = subprocess.run([sys.executable, "-c", _CHILD, HERE],
                         input=pickle.dumps((fn.__name__, args)),
                         stdout=subprocess.PIPE, check=True, timeout=600)
    return pickle.loads(out.stdout)


class _Warehouse:
    """Ingest and mart build of one warehouse directory."""

    def __init__(self, root: str, sf_dir: str):
        self.root, self.sf_dir = root, sf_dir
        self.facts = f"{root}/facts"
        self.marts = f"{root}/marts"

    def build(self, spark, docs_dir: str) -> None:
        docs = companyfacts.read_companyfacts_json(spark, docs_dir)
        flat = companyfacts.flatten_facts(docs)
        facts = companyfacts.dedup_facts(flat.select(*FACTS_SCHEMA.fieldNames()))
        filings = companyfacts.derive_filings(flat)
        sinks.append_if_absent(spark, self.facts, facts, list(FACTS_NATURAL_KEY))
        sinks.append_if_absent(spark, f"{self.root}/filings", filings,
                               ["accession_no"])
        version = sinks.list_versions(self.facts)[0]["version"]
        materialize.build_marts_from_facts(
            spark, sinks.read_table(spark, self.facts), self.sf_dir,
            self.marts, facts_version=version)

    def mart(self, spark, name: str):
        return sinks.read_table(spark, f"{self.marts}/{name}")

    def check_all(self, spark, expected) -> list[str]:
        return check.check_marts(_rows(self.mart(spark, "statements_annual")),
                                 _rows(self.mart(spark, "ratios_annual")),
                                 expected)


class Workload:
    name = ""
    setups = 3      # set-ups per run; setup_s is their median

    def __init__(self, seed: int, cores: int, run_dir: str):
        self.seed, self.cores, self.run_dir = seed, cores, run_dir
        self.inputs = f"{run_dir}/inputs"
        self.spark = None
        self.open_stats: dict[str, float] = {}

    def generate(self) -> None: ...
    def prepare(self, spark) -> None: ...

    def open(self, spark, tracer) -> None:
        self.spark = spark

    def check_open(self) -> list[str]:
        return []

    def close(self) -> None: ...
    def measure(self, seconds: float, tracer) -> Measured: ...


# --------------------------------------------------------------------------
# serve
# --------------------------------------------------------------------------

def _get(port: int, path: str) -> int:
    import http.client

    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        resp.read()
        return resp.status
    finally:
        conn.close()


class Serve(Workload):
    """Open-loop Poisson reads of the three endpoints, Zipf tickers, no
    writes. The set-up is what a user pays before the first request: a
    full warehouse build from the companyfacts JSON (ingest, dedup,
    statements, ratios, sink writes) and the app over its marts."""

    name = "serve"

    def generate(self) -> None:
        self.sf_dir = f"{self.inputs}/sf"
        self.json_bytes, self.items, self.expected = _in_child(
            gen.write_warehouse_inputs, self.seed, self.inputs)
        self.api_truth = check.ApiTruth(self.expected)
        self.wh = None
        self.builds = self.passes = 0
        self.jvm_warm = False

    def open(self, spark, tracer) -> None:
        self.spark = spark
        if self.wh is not None:
            shutil.rmtree(self.wh.root, ignore_errors=True)
        self.wh = _Warehouse(f"{self.run_dir}/wh-{self.builds}", self.sf_dir)
        self.builds += 1
        with tracer.span("bench.build"):
            self.wh.build(spark, f"{self.inputs}/docs")
        app = api.create_app(self.wh.mart(spark, "companies"),
                             self.wh.mart(spark, "ratios_annual"))
        self.server = Server(app, tracer, threads=self.cores)
        # first queries on a fresh session plan and compile: pay it here
        for path in WARM_PATHS:
            _get(self.server.port, path)

    def check_open(self) -> list[str]:
        kept = _parquet_rows(self.wh.facts)
        self.open_stats = {
            "companyfacts.items_read": self.items,
            "companyfacts.facts_kept": kept,
            "changed_rows": kept,
            "statements.rows": _parquet_rows(f"{self.wh.marts}/statements_annual"),
            "sinks.stored_bytes_ratio": _dir_bytes(self.wh.root) / self.json_bytes,
        }
        return self.wh.check_all(self.spark, self.expected)

    def close(self) -> None:
        if getattr(self, "server", None) is not None:
            self.server.close()
            self.server = None

    def schedule(self, seconds: float) -> list[gen.Request]:
        # a different schedule per pass, the same for the same seed
        return gen.request_schedule(self.seed * 31 + self.passes, SERVE_RATE, seconds)

    def send(self, reqs: list[gen.Request]) -> list:
        """Send ``reqs`` from the client process; its results, once it has
        exited."""
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "client.py")],
            input=json.dumps({
                "port": self.server.port, "threads": self.cores,
                "schedule": [[str(i), r.due, r.path] for i, r in enumerate(reqs)],
            }), stdout=subprocess.PIPE, text=True, check=True, timeout=120)
        return json.loads(out.stdout)

    def check_results(self, results, reqs, m: Measured) -> list[float]:
        """Check every response; counts them in ``m`` and returns the
        latencies (from due time) of correct ones."""
        self.passes += 1
        lat, late, rows = [], [], 0
        for rid, due, sent, done, status, body in results:
            req = reqs[int(rid)]
            m.attempted += 1
            late.append((sent - due) * 1e3)
            err = (f"request {req.path} failed: {body}" if status < 0 else
                   check.check_response(self.api_truth, req.endpoint,
                                        req.params, status, body))
            if err:
                m.failed += 1
                if len(m.errors) < MAX_ERRORS_SHOWN:
                    m.errors.append(err)
                continue
            lat.append((done - due) * 1e3)
            if status == 200:
                rows += check.rows_returned(req.endpoint, body)
        m.units["read"] = max(1, len(results))
        m.stats["rows_returned"] = rows
        m.samples["client.gen_late_ms"] = late
        m.samples["api.queue_ms"] = list(self.server.httpd.queue_ms)
        self.server.httpd.queue_ms.clear()
        return lat

    def warm(self) -> None:
        """Untimed requests before the window, all due at once, so the
        client's threads send them back to back. The serving path's JIT
        compilation is the JVM's, not the session's: on a JVM that has only
        built the warehouse, p50 over consecutive 10 s passes of 60
        requests read 195, 190, 165, 164, 150, 145 ms. The first window on
        a JVM is preceded by WARM_REQUESTS of them (about 6 s of a run),
        a later one by a short burst that plans each shape on its session."""
        n = 20 if self.jvm_warm else WARM_REQUESTS
        reqs = gen.request_schedule(self.seed + 99, 1e4, n / 1e4)
        self.send([dataclasses.replace(r, due=0.0) for r in reqs])
        self.server.httpd.queue_ms.clear()
        self.jvm_warm = True

    def measure(self, seconds: float, tracer) -> Measured:
        m = Measured([], 0, 0, units={"write": 1})
        self.warm()
        reqs = self.schedule(seconds)
        cpu0 = _cpu_s()
        results = self.send(reqs)
        m.cpu_s = _cpu_s() - cpu0
        m.op_ms = self.check_results(results, reqs, m)
        return m


# --------------------------------------------------------------------------
# dedup
# --------------------------------------------------------------------------

class Dedup(Workload):
    """The near-duplicate chain over a corpus with planted near-copies.
    Its set-up is a session start alone, well under a second, so a run
    takes the median of more of them."""

    name = "dedup"
    setups = 5

    def generate(self) -> None:
        self.texts, self.planted = gen.dedup_corpus(self.seed)
        self.sf_dir = f"{self.inputs}/corpus"
        gen.write_corpus(self.sf_dir, self.texts)

    def _chain(self, sf_dir: str, tracer):
        spark = self.spark
        with tracer.span("text.minhash_lsh"):
            pairs = [tuple(r) for r in
                     text_queries.q_doc_minhash_lsh_dedup(spark, sf_dir).collect()]
        with tracer.span("text.dedup_clusters"):
            clusters = [tuple(r) for r in
                        text_queries.q_doc_dedup_clusters(spark, sf_dir).collect()]
        with tracer.span("text.keep_best"):
            best = [tuple(r) for r in
                    text_queries.q_doc_dedup_keep_best(spark, sf_dir).collect()]
        return pairs, clusters, best

    def prepare(self, spark) -> None:
        # two untimed chains: on a fresh JVM the first takes about four
        # times as long as a warm one and the second still a fifth longer
        self.spark = spark
        for _ in range(2):
            self._chain(self.sf_dir, Tracer())
            spark.catalog.clearCache()

    def measure(self, seconds: float, tracer) -> Measured:
        m = Measured([], 0, 0)
        recall, n_pairs, n_comp = [], [], []
        # every chain started inside the window is measured; the last one
        # may end after it
        t_end = time.perf_counter() + seconds
        while m.attempted == 0 or time.perf_counter() < t_end:
            m.attempted += 1
            try:
                with tracer.span("bench.dedup_chain"):
                    t0, cpu0 = time.perf_counter(), _cpu_s()
                    pairs, clusters, best = self._chain(self.sf_dir, tracer)
                    m.op_ms.append((time.perf_counter() - t0) * 1e3)
                    m.cpu_s += _cpu_s() - cpu0
                # the chain persists intermediates it never releases
                self.spark.catalog.clearCache()
                errs, r = check.check_dedup(self.texts, self.planted, pairs,
                                            clusters, best, gen.jaccard)
                recall.append(r)
                n_pairs.append(len(pairs))
                n_comp.append(len({rep for _, rep, keep in clusters if not keep}))
            except Exception as e:  # noqa: BLE001 - a failed chain is a counted failure
                errs = [f"dedup chain raised {e!r}"]
            if errs:
                m.failed += 1
                m.errors += errs[:MAX_ERRORS_SHOWN]
        n = max(1, len(recall))
        m.units = {"write": max(1, len(m.op_ms)), "read": 1}
        m.stats = {"dedup.pair_recall": sum(recall) / n,
                   "text.verified_pairs": sum(n_pairs) / n,
                   "cc.components": sum(n_comp) / n}
        return m


WORKLOADS = {w.name: w for w in (Serve, Dedup)}
