"""HTTP serving shell for the three reference endpoints (VERDICT r4
item 6; reference src/sec_xbrl_finwarehouse/api.py:1-119).

The reference serves FastAPI routes over Postgres; this module is the
same surface over the Spark marts: route -> parameter validation ->
:class:`.serving.ReadModel` rows -> :mod:`.serving` shape -> JSON.
It is a plain WSGI application (stdlib only -- FastAPI is not in this
container), so it runs under ``wsgiref`` for local serving, any real
WSGI server in production, and plain function calls in offline tests.

Fidelity notes:

* ``GET /company/{ticker}`` -> 200 {"cik","ticker","name"} or
  404 {"detail": "Ticker not found"} (api.py:6-19).
* ``GET /ratios/{ticker}?limit=`` -> 200 {"ticker","years":[...]};
  404 on unknown ticker (api.py:28-29); limit validated ge=1 le=50
  (api.py:22) -> 422 on violation, matching FastAPI's Query contract
  (FastAPI REJECTS out-of-range params rather than clamping; the
  DataFrame builders' clamp stays as defense in depth for library
  callers).
* ``GET /screener?...`` -> 200 {"results":[...]}; min_roe /
  min_fcf_margin / min_net_margin float, year int, limit ge=1 le=200
  (api.py:63-69) -> 422 on any unparsable/out-of-range value.
* Any other method on those routes -> 405 {"detail": "Method Not
  Allowed"} with ``Allow: GET``, as FastAPI's ``@app.get`` routes
  answer; an unknown path -> 404 {"detail": "Not Found"}. The status
  line carries the standard reason phrase.

The serving DataFrames are passed in once at app construction (the
Spark analog of the reference's connection pool) and read there, once,
into an in-memory read model; a request costs a dict lookup or a scan
of pre-sorted rows that stops at its limit, and starts no Spark job.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from http import HTTPStatus
from typing import Any
from urllib.parse import parse_qs

from pyspark.sql import DataFrame

from . import serving


class _Unprocessable(ValueError):
    """Maps to FastAPI's 422 validation response."""


class _MethodNotAllowed(Exception):
    """Maps to the 405 FastAPI's ``@app.get`` routes give other methods."""


def _query_int(qs: dict, name: str, default: int, ge: int, le: int) -> int:
    raw = qs.get(name, [None])[0]
    if raw is None:
        return default
    try:
        val = int(raw)
    except ValueError as e:
        raise _Unprocessable(f"{name}: value is not a valid integer") from e
    if not (ge <= val <= le):
        raise _Unprocessable(f"{name}: must be between {ge} and {le}")
    return val


def _query_float(qs: dict, name: str) -> float | None:
    raw = qs.get(name, [None])[0]
    if raw is None:
        return None
    try:
        return float(raw)
    except ValueError as e:
        raise _Unprocessable(f"{name}: value is not a valid float") from e


def _query_opt_int(qs: dict, name: str) -> int | None:
    raw = qs.get(name, [None])[0]
    if raw is None:
        return None
    try:
        return int(raw)
    except ValueError as e:
        raise _Unprocessable(f"{name}: value is not a valid integer") from e


def create_app(companies: DataFrame, ratios: DataFrame) -> Callable:
    """WSGI app over the serving marts (companies dim + ratios_annual).

    Both frames are read here, once, into a :class:`.serving.ReadModel`;
    requests are answered from it and start no Spark job. The app keeps
    serving the marts as they were at this call, also after later
    publishes have pruned the version directories the frames read."""
    model = serving.ReadModel(companies, ratios)

    def handle(method: str, path: str, qs: dict) -> dict[str, Any]:
        parts = [p for p in path.split("/") if p]
        if not (len(parts) == 2 and parts[0] in ("company", "ratios")
                or parts == ["screener"]):
            raise serving.NotFound("Not Found")
        if method != "GET":
            raise _MethodNotAllowed("Method Not Allowed")
        if parts[0] == "company":
            return serving.shape_company(model.company(parts[1]))
        if parts[0] == "ratios":
            limit = _query_int(qs, "limit", default=10, ge=1, le=50)
            # the reference 404s on an unknown ticker (api.py:28-29)
            return serving.shape_ratios(
                parts[1], model.ratio_history(parts[1], limit))
        return serving.shape_screener(model.screener(
            min_roe=_query_float(qs, "min_roe"),
            min_fcf_margin=_query_float(qs, "min_fcf_margin"),
            min_net_margin=_query_float(qs, "min_net_margin"),
            year=_query_opt_int(qs, "year"),
            limit=_query_int(qs, "limit", default=25, ge=1, le=200),
        ))

    def app(environ, start_response):
        headers = [("Content-Type", "application/json")]
        try:
            status, payload = 200, handle(
                environ.get("REQUEST_METHOD", "GET"),
                environ.get("PATH_INFO", "/"),
                parse_qs(environ.get("QUERY_STRING", "")),
            )
        except _Unprocessable as e:
            status, payload = 422, {"detail": str(e)}
        except _MethodNotAllowed as e:
            status, payload = 405, {"detail": str(e)}
            headers.append(("Allow", "GET"))
        except serving.NotFound as e:
            status, payload = 404, {"detail": str(e)}
        body = json.dumps(payload).encode()
        headers.append(("Content-Length", str(len(body))))
        start_response(f"{status} {HTTPStatus(status).phrase}", headers)
        return [body]

    return app


def serve(companies: DataFrame, ratios: DataFrame,
          host: str = "127.0.0.1", port: int = 8000) -> None:
    """Run the app under stdlib wsgiref (local/dev serving; put any real
    WSGI server in front for production). Prints the bound address once
    the socket is listening, so ``port=0`` (any free port) is usable."""
    from wsgiref.simple_server import make_server

    with make_server(host, port, create_app(companies, ratios)) as srv:
        print(f"serving on http://{host}:{srv.server_port}", flush=True)
        srv.serve_forever()
