"""Open-loop HTTP sender, run as its own process.

Reads ``{"port", "threads", "schedule": [[rid, due_s, path], ...]}`` as
JSON on stdin. The main thread releases each request at its due time to
a pool of ``threads`` sender threads; a request that finds every thread
busy waits, and that wait counts in its latency, which is timed from
the due time. Writes one JSON list of
``[rid, due_s, sent_s, done_s, status, body]`` to stdout.

    python3 perfbench/client.py < schedule.json > results.json
"""

from __future__ import annotations

import http.client
import json
import sys
import time
from concurrent.futures import ThreadPoolExecutor

TIMEOUT_S = 30.0


def _send(port: int, rid: str, due: float, path: str, t0: float) -> list:
    sent = time.perf_counter() - t0
    try:
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=TIMEOUT_S)
        try:
            conn.request("GET", path, headers={"X-Request-Id": rid})
            resp = conn.getresponse()
            body = resp.read().decode()
            status = resp.status
        finally:
            conn.close()
    except OSError as e:  # refused, reset or timed out: a failed request
        status, body = -1, repr(e)
    return [rid, due, sent, time.perf_counter() - t0, status, body]


def run(port: int, threads: int, schedule: list) -> list:
    futures = []
    with ThreadPoolExecutor(threads) as pool:
        t0 = time.perf_counter()
        for rid, due, path in schedule:
            delay = due - (time.perf_counter() - t0)
            if delay > 0:
                time.sleep(delay)
            futures.append(pool.submit(_send, port, rid, due, path, t0))
        return [f.result() for f in futures]


def main() -> None:
    cfg = json.load(sys.stdin)
    json.dump(run(cfg["port"], cfg["threads"], cfg["schedule"]), sys.stdout)


if __name__ == "__main__":
    main()
