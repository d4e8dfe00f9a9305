"""Warehouse benchmark: one seeded workload, timed, checked, one JSON line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 6 --trace 0

Run from the repository root. Workloads: serve and dedup (BENCHMARK.json
says why each is in the set). ``--trace 0`` prints the end-to-end
metrics; the unit of work behind ``op_*`` is one HTTP request on serve
and one run of the dedup chain on dedup, and ``op_cpu_ms`` is the CPU
the program (this process and its JVM) spent per op. ``--trace 1`` measures the
workload untraced twice, then again on a session with spans and the
Spark event log on, and prints the per-layer metrics and the tracing
overhead (traced against the second, equally warm, untraced pass).
Spans are written to ``.perfbench_out/spans-<workload>-s<seed>.json``.
The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``.

Each run works in a private directory under ``.perfbench_runs/``
(inputs, warehouse, Spark local and temp dirs, event log) and removes it
before exiting; the JVM and every other process it starts are stopped
and waited for, orphans of those included (the run is their subreaper).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "sec_xbrl_finwarehouse_spark"

# local[N] with N = min(CORES, nproc - 1): one core stays free for the
# Python driver, HTTP server and client, which otherwise compete with the
# Spark tasks (on a 4-vCPU VM, serve's op_p50_ms over four seeds ranged
# 172-251 ms on local[4] and 169-187 ms on local[3], runs interleaved)
CORES = 3
JVM_HEAP = "2g"
# fixed heap and young generation: the JVM's resident size then depends on
# what the run allocates, not on how adaptive sizing happened to grow it;
# no perf-data file, which the JVM would otherwise write under /tmp
JVM_OPTS = "-Xms2g -Xmn512m -XX:-UsePerfData"

# op_cpu_ms, not wall-clock latency, is the bounded cost of an op: on a
# shared 4-vCPU VM, serve's op_p50_ms over five seeds read 125-239 ms as
# the hypervisor's steal went from 0.2% to 13% of the vCPUs' time, and
# over sets of five seeds its quartiles spread 0.34-0.41 of the median;
# op_cpu_ms spread 0.08-0.19. Wall-clock times are in the traced output.
E2E = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "op_cpu_ms": "ms",
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", required=True,
                   choices=("serve", "dedup"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(run_dir: str, cores: int) -> None:
    """Private Spark local/temp dirs and a pinned JVM heap, set before
    the JVM launches; the package importable by Spark's Python workers."""
    tmp = os.path.join(run_dir, "tmp")
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ.update({
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cores),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (f"--driver-memory {JVM_HEAP} "
                                f"--driver-java-options '{JVM_OPTS} -Djava.io.tmpdir={tmp}' "
                                "pyspark-shell"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    sys.path[:0] = [ROOT, HERE]


def _start_session(run_dir: str, cores: int, event_log: str | None = None):
    from sec_xbrl_finwarehouse_spark import session

    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": f"file://{event_log}"})
    return session.get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=cores, extra_conf=conf)


def _timed_session(run_dir: str, cores: int):
    t0 = time.perf_counter()
    spark = _start_session(run_dir, cores)
    return spark, time.perf_counter() - t0


def _vm_hwm_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _jvm_proc():
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def _stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw, proc = SparkContext._gateway, _jvm_proc()
    if gw is None:
        return
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a stuck JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=30)


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all vCPUs: steal is time the hypervisor
    gave this machine's vCPUs to someone else."""
    try:
        with open("/proc/stat", encoding="ascii") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def execute(args, run_dir: str, cores: int) -> dict:
    import gen
    import layers
    import spans
    from workloads import WORKLOADS

    info = {"workload": args.workload, "seed": args.seed, "cores": cores,
            "nproc": os.cpu_count(), "load_before": os.getloadavg()}
    ticks0 = _cpu_ticks()
    phases = info["phases_s"] = {}
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = round(now - t_phase, 2)
        t_phase = now

    wl = WORKLOADS[args.workload](args.seed, cores, run_dir)
    # the JVM launches while the inputs are generated
    with ThreadPoolExecutor(1) as pool:
        launching = pool.submit(_timed_session, run_dir, cores)
        wl.generate()
        spark, session_start_s = launching.result()
    phase("generate+session")
    off = spans.Tracer()
    try:
        wl.prepare(spark)
        phase("prepare")
        setups, setup_errors = [], []
        for _ in range(wl.setups):
            wl.close()
            spark.stop()
            t0 = time.perf_counter()
            spark = _start_session(run_dir, cores)
            wl.open(spark, off)
            setups.append(time.perf_counter() - t0)
        # every set-up builds the same thing from the same inputs: the last,
        # which the workload then runs on, is checked in full
        setup_errors.append(wl.check_open())
        phase("setup")
        measured = [wl.measure(args.seconds, off)]
        phase("measure")
        if args.trace:
            # a second untraced pass, as warm as the traced one that follows,
            # is the reference for the tracing overhead
            measured.append(wl.measure(args.seconds, off))
            wl.close()
            spark.stop()
            log_dir = os.path.join(run_dir, "eventlog")
            spark = _start_session(run_dir, cores, event_log=log_dir)
            # the untraced passes ran on a warm JVM: warm this one as well,
            # before any span
            wl.prepare(spark)
            tracer = spans.Tracer(spark.sparkContext, enabled=True)
            spans.instrument(tracer)
            try:
                wl.open(spark, tracer)
                setup_errors.append(wl.check_open())
                measured.append(wl.measure(args.seconds, tracer))
                wl.close()
            finally:
                tracer.restore()
            for k, v in wl.open_stats.items():
                measured[2].stats.setdefault(k, v)
            spark.stop()
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(
                out_dir, f"spans-{args.workload}-s{args.seed}.json"))
            metrics = layers.per_layer(
                tracer.spans, spans.read_event_log(log_dir), measured[2],
                session_start_s, measured[1].op_ms)
        else:
            wl.close()
            proc = _jvm_proc()
            m = measured[0]
            tail_pct, tail = gen.percentile_tail(m.op_ms)
            info["op_samples"], info["op_tail_pct"] = len(m.op_ms), round(tail_pct, 1)
            info["op_p50_ms"], info["op_tail_ms"] = gen.median(m.op_ms), tail
            metrics = {
                "setup_s": gen.median(setups),
                "peak_rss_mb": _vm_hwm_mb("self") + _vm_hwm_mb(proc.pid if proc else -1),
                "op_cpu_ms": m.cpu_s * 1e3 / max(1, len(m.op_ms)),
            }
            spark.stop()
    finally:
        _stop_jvm()
    phase("finish")
    info["load_after"] = os.getloadavg()
    steal, total = (b - a for a, b in zip(ticks0, _cpu_ticks()))
    info["steal_frac"] = round(steal / max(1, total), 4)
    attempted = sum(m.attempted for m in measured) + len(setup_errors)
    failed = sum(m.failed for m in measured) + sum(map(bool, setup_errors))
    errors = [e for errs in setup_errors for e in errs[:5]]
    errors += [e for m in measured for e in m.errors]
    units = {**E2E, **layers.UNITS}
    return {
        "info": info, "errors": errors,
        "result": {
            "correct": failed == 0 and attempted > 0,
            "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        },
    }


PR_SET_CHILD_SUBREAPER = 36


def _adopt_orphans() -> None:
    """Become the subreaper of every process this run starts: one whose
    parent exits first (Spark's Python daemon and its workers, once the
    JVM is gone) is re-parented here, where ``_reap_children`` waits for it."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                stat = f.read()
        except OSError:
            continue
        # the parent pid is the second field after the parenthesised name
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            kids.append(int(d))
    return kids


def _reap_children(grace_s: float = 15.0) -> None:
    """Wait until this process has no child left, orphans it adopted
    included; after ``grace_s`` the rest are terminated, then killed."""
    t0 = time.monotonic()
    sent = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        waited = time.monotonic() - t0
        if waited > grace_s + 30:  # unkillable: give up rather than hang
            return
        sig = (signal.SIGKILL if waited > grace_s + 5 else
               signal.SIGTERM if waited > grace_s else None)
        if sig is not None and sig != sent:
            for pid in _children():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.02)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # run the cleanup in ``finally`` blocks


def main(argv=None) -> int:
    args = _parse(argv)
    signal.signal(signal.SIGTERM, _terminate)
    _adopt_orphans()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}",
              file=sys.stderr)
        return 2
    cores = max(1, min(CORES, (os.cpu_count() or 2) - 1))
    runs = os.path.join(ROOT, ".perfbench_runs")
    run_dir = os.path.join(
        runs, f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}")
    os.makedirs(run_dir)
    try:
        _isolate(run_dir, cores)
        out = execute(args, run_dir, cores)
    except Exception:  # noqa: BLE001 - report and exit non-zero, no result line
        traceback.print_exc()
        return 1
    finally:
        _reap_children()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass
    res = out["result"]
    info = out["info"]
    print(f"workload={info['workload']} seed={info['seed']} local[{info['cores']}] "
          f"nproc={info['nproc']} load_before={info['load_before']} "
          f"load_after={info['load_after']} steal_frac={info['steal_frac']}")
    print(f"phases_s={info['phases_s']}")
    if "op_samples" in info:
        print(f"op samples={info['op_samples']}, wall-clock op_p50_ms="
              f"{info['op_p50_ms']:.6g}, op_tail_ms={info['op_tail_ms']:.6g} "
              f"(their p{info['op_tail_pct']})")
    print(f"error_frac={res['failed'] / max(1, res['attempted']):.6f} "
          f"({res['failed']} of {res['attempted']})")
    for e in out["errors"][:20]:
        print(f"  mismatch: {e}")
    for k, v in res["metrics"].items():
        print(f"  {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
