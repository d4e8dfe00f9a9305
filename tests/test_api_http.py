"""Offline tests for the WSGI serving shell (VERDICT r4 item 6) against
the golden shapes the serving tests hold (reference api.py:6-119), and
of its in-memory read model against the DataFrame builders it replaces
on the request path. Requests are plain WSGI calls -- no sockets, no
server process."""

from __future__ import annotations

import json
import os
import random
import string
from http import HTTPStatus
from urllib.parse import urlencode

import pytest

from sec_xbrl_finwarehouse_spark import schemas, serving, sinks
from sec_xbrl_finwarehouse_spark.api import create_app
from sec_xbrl_finwarehouse_spark.plans import api_queries


@pytest.fixture(scope="module")
def app(spark):
    companies = spark.createDataFrame(
        [
            {"cik": "0000000001", "ticker": "AAA", "name": "Alpha Co"},
            {"cik": "0000000002", "ticker": "BBB", "name": "Beta Co"},
        ]
    )

    def year(cik, fy, roe, fcf, net):
        return {
            "cik": cik, "fiscal_year": fy, "gross_margin": 0.5,
            "operating_margin": 0.2, "net_margin": net, "roa": 0.1,
            "roe": roe, "leverage": 2.0, "fcf_margin": fcf,
            "asset_turnover": 0.8,
        }

    ratios = spark.createDataFrame(
        [
            year("0000000001", 2020, 0.30, 0.10, 0.12),
            year("0000000001", 2021, 0.25, 0.11, 0.13),
            year("0000000002", 2021, 0.40, None, 0.20),
        ]
    )
    return create_app(companies, ratios)


def request(app, path_query: str, method: str = "GET"):
    """(status line, headers, raw body) of one WSGI call."""
    path, _, qs = path_query.partition("?")
    captured = {}

    def start_response(status, headers):
        captured["status"] = status
        captured["headers"] = dict(headers)

    chunks = app({"REQUEST_METHOD": method, "PATH_INFO": path,
                  "QUERY_STRING": qs}, start_response)
    body = b"".join(chunks)
    assert captured["headers"]["Content-Type"] == "application/json"
    assert int(captured["headers"]["Content-Length"]) == len(body)
    return captured["status"], captured["headers"], body


def get(app, path_query: str):
    status, _, body = request(app, path_query)
    return int(status.split()[0]), json.loads(body)


def test_company_endpoint_golden(app):
    status, body = get(app, "/company/aaa")
    assert status == 200
    assert body == {"cik": "0000000001", "ticker": "AAA", "name": "Alpha Co"}


def test_company_endpoint_404(app):
    status, body = get(app, "/company/ZZZ")
    assert status == 404
    assert body == {"detail": "Ticker not found"}


def test_ratios_endpoint_golden(app):
    status, body = get(app, "/ratios/aaa")
    assert status == 200
    assert body["ticker"] == "AAA"
    assert [y["fiscal_year"] for y in body["years"]] == [2021, 2020]
    assert body["years"][0]["roe"] == 0.25


def test_ratios_endpoint_limit(app):
    status, body = get(app, "/ratios/aaa?limit=1")
    assert status == 200
    assert [y["fiscal_year"] for y in body["years"]] == [2021]


def test_ratios_endpoint_404_unknown_ticker(app):
    status, body = get(app, "/ratios/NOPE")
    assert status == 404
    assert body == {"detail": "Ticker not found"}


@pytest.mark.parametrize("bad", ["0", "51", "xyz"])
def test_ratios_limit_validation_422(app, bad):
    status, body = get(app, f"/ratios/aaa?limit={bad}")
    assert status == 422
    assert "limit" in body["detail"]


def test_screener_endpoint_golden(app):
    status, body = get(app, "/screener?min_roe=0.2")
    assert status == 200
    assert [(r["ticker"], r["fiscal_year"]) for r in body["results"]] == [
        ("BBB", 2021), ("AAA", 2021), ("AAA", 2020),
    ]
    assert set(body["results"][0]) == {
        "ticker", "name", "fiscal_year", "roe", "fcf_margin", "net_margin",
    }


def test_screener_filters_and_year(app):
    status, body = get(app, "/screener?year=2020")
    assert status == 200
    assert [(r["ticker"], r["fiscal_year"]) for r in body["results"]] == [
        ("AAA", 2020),
    ]


def test_screener_validation_422(app):
    status, body = get(app, "/screener?min_roe=high")
    assert status == 422
    assert "min_roe" in body["detail"]
    status, body = get(app, "/screener?limit=500")
    assert status == 422


def test_unknown_route_404(app):
    status, body = get(app, "/nope/path")
    assert status == 404
    assert body == {"detail": "Not Found"}
    # no route matches, so the method does not matter
    status, _, body = request(app, "/nope/path", "POST")
    assert (status, json.loads(body)) == ("404 Not Found", {"detail": "Not Found"})


def test_serve_over_real_socket(app, spark):
    """One end-to-end request through a real wsgiref server socket --
    proves serve()'s plumbing, not just the WSGI callable."""
    import json as _json
    import threading
    import urllib.request
    from wsgiref.simple_server import make_server

    srv = make_server("127.0.0.1", 0, app)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.handle_request, daemon=True)
    t.start()
    with urllib.request.urlopen(
        f"http://127.0.0.1:{port}/company/bbb", timeout=30
    ) as resp:
        assert resp.status == 200
        body = _json.loads(resp.read())
    assert body == {"cik": "0000000002", "ticker": "BBB", "name": "Beta Co"}
    t.join(timeout=10)
    srv.server_close()


@pytest.mark.parametrize("method", ["POST", "HEAD"])
@pytest.mark.parametrize("path", ["/company/aaa", "/ratios/aaa?limit=0",
                                  "/screener"])
def test_non_get_method_405(app, method, path):
    """FastAPI's @app.get routes answer any other method with 405 and an
    Allow header, before validating parameters."""
    status, headers, body = request(app, path, method)
    assert status == "405 Method Not Allowed"
    assert headers["Allow"] == "GET"
    assert json.loads(body) == {"detail": "Method Not Allowed"}


@pytest.mark.parametrize("path, line", [
    ("/company/aaa", "200 OK"),
    ("/company/ZZZ", "404 Not Found"),
    # "Unprocessable Content" from Python 3.13 on
    ("/ratios/aaa?limit=0", f"422 {HTTPStatus(422).phrase}"),
])
def test_status_line_reason_phrase(app, path, line):
    assert request(app, path)[0] == line


# --------------------------------------------------------------------------
# read model vs the DataFrame builders
# --------------------------------------------------------------------------

_COMPANIES_DDL = "cik string, ticker string, name string"
_ROE_POOL = (-0.2, 0.0, 0.05, 0.1, 0.15, 0.3)  # few values: ties on (fy, roe)
_YEARS = range(2015, 2025)


def _random_marts(spark, seed: int, root):
    """~60 companies (a few without ticker or name) and a few hundred
    ratio rows, 10 of their ciks absent from companies; NULL and NaN in
    every ratio column the screener reads. Stored as parquet under
    ``root`` and read back, as the app reads its marts."""
    rng = random.Random(seed)
    tickers: set[str] = set()
    while len(tickers) < 60:
        tickers.add("".join(rng.choices(string.ascii_uppercase,
                                        k=rng.randint(1, 4))))
    companies = [
        (f"{i:010d}", t if i % 13 else None, rng.choice((f"{t} Corp", None)))
        for i, t in enumerate(sorted(tickers), start=1)
    ]

    def val(pool=None):
        x = rng.random()
        if x < 0.1:
            return None
        if x < 0.2:
            return float("nan")
        return rng.choice(pool) if pool else round(rng.uniform(-0.5, 0.8), 2)

    ciks = [c[0] for c in companies] + [f"9{i:09d}" for i in range(10)]
    ratios = [
        (cik, fy, val(), val(), val(), val(), val(_ROE_POOL), val(), val(), val())
        for cik in ciks
        for fy in rng.sample(_YEARS, rng.randint(0, len(_YEARS)))
    ]
    frames = []
    for name, rows, schema in (("companies", companies, _COMPANIES_DDL),
                               ("ratios", ratios, schemas.RATIOS_ANNUAL_SCHEMA)):
        path = str(root / name)
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)
        frames.append(spark.read.parquet(path))
    return (*frames, sorted(tickers))


def _random_requests(rng: random.Random, tickers: list[str], n: int):
    """(endpoint, ticker, params) triples over all three endpoints."""

    def ticker():
        if rng.random() < 0.2:
            return "".join(rng.choices(string.ascii_uppercase, k=5))  # unknown
        t = rng.choice(tickers)
        return rng.choice((t, t.lower(), t.capitalize()))

    def bound():
        return rng.choice((*_ROE_POOL, round(rng.uniform(-0.5, 0.8), 2),
                           float("nan"), float("inf"), float("-inf")))

    out = []
    for _ in range(n):
        kind = rng.choice(("company", "ratios", "screener"))
        params: dict = {}
        if kind == "ratios" and rng.random() < 0.8:
            params["limit"] = rng.choice((1, 50, rng.randint(1, 50)))
        if kind == "screener":
            for f in ("min_roe", "min_fcf_margin", "min_net_margin"):
                if rng.random() < 0.4:
                    params[f] = bound()
            if rng.random() < 0.5:
                params["year"] = rng.choice((*_YEARS, 1999))
            if rng.random() < 0.8:
                params["limit"] = rng.choice((1, 200, rng.randint(1, 200)))
        out.append((kind, None if kind == "screener" else ticker(), params))
    return out


def _builder_response(companies, ratios, kind, ticker, params):
    """(status, JSON body) from the DataFrame builders, the slow path."""
    try:
        if kind == "company":
            body = serving.collect_response(
                api_queries.company_profile(companies, ticker),
                serving.shape_company)
        elif kind == "ratios":
            serving.collect_response(
                api_queries.company_profile(companies, ticker),
                serving.shape_company)
            body = serving.collect_response(
                api_queries.company_ratios(companies, ratios, ticker, **params),
                serving.shape_ratios, ticker)
        else:
            body = serving.collect_response(
                api_queries.screener(ratios, companies, **params),
                serving.shape_screener)
    except serving.NotFound as e:
        return 404, json.dumps({"detail": str(e)}).encode()
    return 200, json.dumps(body).encode()


@pytest.fixture(scope="module")
def random_marts(spark, tmp_path_factory):
    companies, ratios, tickers = _random_marts(
        spark, seed=7, root=tmp_path_factory.mktemp("random_marts"))
    return companies, ratios, tickers, create_app(companies, ratios)


def test_read_model_matches_dataframe_builders(random_marts):
    """Seeded random requests through create_app answer exactly what the
    DataFrame builders answer on the same frames: same status, same JSON
    bytes (so NaN matches NaN, and order and NULLs match too)."""
    companies, ratios, tickers, app = random_marts
    nonempty = with_nan = 0
    for kind, ticker, params in _random_requests(random.Random(11), tickers, 240):
        path = f"/{kind}/{ticker}" if ticker is not None else f"/{kind}"
        status, _, body = request(
            app, f"{path}?{urlencode(params)}" if params else path)
        want = _builder_response(companies, ratios, kind, ticker, params)
        assert (int(status.split()[0]), body) == want, (path, params)
        nonempty += b'"results": [{' in body or b'"years": [{' in body
        with_nan += b"NaN" in body
    # the sample reaches non-empty pages and NaN values, not only 404s
    assert nonempty > 50 and with_nan > 10


def test_requests_start_no_spark_job(spark, random_marts):
    """Once create_app has returned, no request -- 200, 404, 405 or
    422, on any endpoint -- starts a Spark job, on this thread or any
    other."""
    _, _, tickers, app = random_marts
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    drain = sc._jsc.sc().listenerBus().waitUntilEmpty
    drain()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    group = "serve-requests"
    sc.setJobGroup(group, "requests after create_app")
    t = tickers[0]
    batch = [
        (f"/company/{t.lower()}", "GET", 200),
        ("/company/NOPE9", "GET", 404),
        (f"/ratios/{t}?limit=50", "GET", 200),
        ("/ratios/NOPE9", "GET", 404),
        (f"/ratios/{t}?limit=0", "GET", 422),
        ("/screener?min_roe=0.1&min_fcf_margin=nan&year=2020", "GET", 200),
        ("/screener?limit=200", "GET", 200),
        ("/screener?year=x", "GET", 422),
        ("/screener", "POST", 405),
        ("/nope", "GET", 404),
    ]
    try:
        statuses = [int(request(app, path, method)[0].split()[0])
                    for path, method, _ in batch]
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    drain()
    assert tracker.getJobIdsForGroup(group) == []
    # only new ids count: the status store evicts the oldest jobs
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped_before == set()
    assert statuses == [want for _, _, want in batch]


def test_app_outlives_republish_of_its_marts(spark, tmp_path):
    """read_table pins a frame to one version directory, and a publish
    keeps only the newest two. After two more publishes of ratios_annual
    the app's directory is gone; the app still answers from the version
    it was built from."""
    companies_path = str(tmp_path / "companies")
    ratios_path = str(tmp_path / "ratios_annual")
    sinks.write_replace(spark.createDataFrame(
        [("0000000001", "AAA", "Alpha Co")], _COMPANIES_DDL), companies_path)

    def ratios(roe):
        return spark.createDataFrame(
            [("0000000001", 2021, 0.5, 0.2, 0.1, 0.05, roe, 2.0, 0.1, 0.8)],
            schemas.RATIOS_ANNUAL_SCHEMA)

    sinks.write_replace(ratios(0.25), ratios_path)
    pinned = sinks.current_data_dir(ratios_path)
    app = create_app(sinks.read_table(spark, companies_path),
                     sinks.read_table(spark, ratios_path))
    for roe in (0.5, 0.75):
        sinks.write_replace(ratios(roe), ratios_path)
    assert not os.path.exists(pinned)
    status, body = get(app, "/ratios/aaa")
    assert status == 200
    assert [(y["fiscal_year"], y["roe"]) for y in body["years"]] == [(2021, 0.25)]
