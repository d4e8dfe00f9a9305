"""HTTP front for ``api.create_app``: a WSGI server with a fixed pool of
handler threads that records the queueing time of every request (accept
-> handler start) and a span per request."""

from __future__ import annotations

import threading
import time
from concurrent.futures import ThreadPoolExecutor
from wsgiref.simple_server import WSGIRequestHandler, WSGIServer


class _QuietHandler(WSGIRequestHandler):
    def log_message(self, *args) -> None:
        pass


class PoolServer(WSGIServer):
    """wsgiref server whose requests run on ``threads`` pool threads."""

    request_queue_size = 256

    def __init__(self, threads: int):
        super().__init__(("127.0.0.1", 0), _QuietHandler)
        self.pool = ThreadPoolExecutor(threads, thread_name_prefix="api")
        self.queue_ms: list[float] = []

    def process_request(self, request, client_address):
        self.pool.submit(self._work, request, client_address, time.perf_counter())

    def _work(self, request, client_address, accepted: float) -> None:
        self.queue_ms.append((time.perf_counter() - accepted) * 1e3)
        try:
            self.finish_request(request, client_address)
        except Exception:  # noqa: BLE001 - keep serving; the client sees the failure
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)

    def server_close(self) -> None:
        super().server_close()
        self.pool.shutdown(wait=True)


def wsgi_front(app, tracer):
    """WSGI callable: ``app`` inside a span per request, its id taken from
    the ``X-Request-Id`` header."""

    def front(environ, start_response):
        parts = [p for p in environ.get("PATH_INFO", "/").split("/") if p]
        with tracer.span("api.request", request=environ.get("HTTP_X_REQUEST_ID"),
                         endpoint=parts[0] if parts else ""):
            return app(environ, start_response)

    return front


class Server:
    """Run a PoolServer on a background thread; ``close`` stops and joins."""

    def __init__(self, app, tracer, threads: int):
        self.httpd = PoolServer(threads)
        self.httpd.set_app(wsgi_front(app, tracer))
        self.port = self.httpd.server_address[1]
        self._thread = threading.Thread(
            target=self.httpd.serve_forever, kwargs={"poll_interval": 0.05},
            name="accept", daemon=True)
        self._thread.start()

    def close(self) -> None:
        self.httpd.shutdown()
        self._thread.join(timeout=30)
        self.httpd.server_close()
