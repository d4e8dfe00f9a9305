"""Offline end-to-end test of the module entry points: seed -> ingest
-> build -> ratios -> serve on the golden companyfacts fixture, all
through ``cli.main`` exactly as ``python -m sec_xbrl_finwarehouse_spark``
would run them (VERDICT r8 next-round #5). No network: seed reads a
local company_tickers.json, ingest reads a local companyfacts spool."""

from __future__ import annotations

import json
import os
import threading
import urllib.request

import pytest

from sec_xbrl_finwarehouse_spark import cli, sinks


def _fact(val, accn, form, filed, start, end, fy=2020, fp="FY"):
    return {"val": val, "accn": accn, "form": form, "filed": filed,
            "start": start, "end": end, "frame": None, "fy": fy, "fp": fp}


CIK10 = "0000320193"

GOLDEN_DOC = {
    "entityName": "TestCo",
    "cik": 320193,
    "facts": {"us-gaap": {
        "Revenues": {"units": {"USD": [
            _fact(100.0, "a1", "10-K", "2021-02-01",
                  "2020-01-01", "2020-12-31"),
            _fact(110.0, "a2", "10-K", "2021-03-01",
                  "2020-01-01", "2020-12-31"),
        ]}},
        "RevenueFromContractWithCustomerExcludingAssessedTax":
            {"units": {"USD": [
                _fact(105.0, "a2", "10-K", "2021-03-01",
                      "2020-01-01", "2020-12-31"),
            ]}},
        "GrossProfit": {"units": {"USD": [
            _fact(40.0, "a2", "10-K", "2021-03-01",
                  "2020-01-01", "2020-12-31"),
        ]}},
        "NetIncomeLoss": {"units": {"USD": [
            _fact(20.0, "a2", "10-K", "2021-03-01",
                  "2020-01-01", "2020-12-31"),
        ]}},
        "NetCashProvidedByUsedInOperatingActivities": {"units": {"USD": [
            _fact(30.0, "a2", "10-K", "2021-03-01",
                  "2020-01-01", "2020-12-31"),
        ]}},
        "PaymentsToAcquirePropertyPlantAndEquipment": {"units": {"USD": [
            _fact(-8.0, "a2", "10-K", "2021-03-01",
                  "2020-01-01", "2020-12-31"),
        ]}},
        "Assets": {"units": {"USD": [
            _fact(200.0, "a2", "10-K", "2021-03-01",
                  None, "2020-12-31"),
        ]}},
        "StockholdersEquity": {"units": {"USD": [
            _fact(80.0, "a2", "10-K", "2021-03-01",
                  None, "2020-12-31"),
        ]}},
    }},
}


@pytest.fixture()
def offline_env(tmp_path, monkeypatch):
    """A .env + local tickers map + companyfacts spool, ready for the
    four-command pipeline. ``cli.load_env`` writes into ``os.environ``
    without overriding what is already set, so the variables this .env
    defines are cleared first (and again at teardown): each test reads
    its own .env, not the one an earlier test loaded."""
    for var in ("WAREHOUSE_DIR", "TICKERS", "SEC_USER_AGENT", "QUOTED"):
        monkeypatch.delenv(var, raising=False)
    warehouse = tmp_path / "warehouse"
    env = tmp_path / ".env"
    env.write_text(
        f"WAREHOUSE_DIR={warehouse}\n"
        "SEC_USER_AGENT=test test@example.com\n"
        "TICKERS=TESTCO\n"
        "# comment line\n"
        "export QUOTED='with spaces'\n"
    )
    tickers = tmp_path / "company_tickers.json"
    tickers.write_text(json.dumps(
        {"0": {"cik_str": 320193, "ticker": "TESTCO", "title": "TestCo"}}
    ))
    spool = tmp_path / "docs"
    spool.mkdir()
    (spool / f"{CIK10}.json").write_text(json.dumps(GOLDEN_DOC))
    return {"env": str(env), "warehouse": str(warehouse),
            "tickers_json": str(tickers), "spool": str(spool)}


def test_load_env_precedence(tmp_path, monkeypatch):
    env = tmp_path / ".env"
    env.write_text("A=1\nexport B=\"two\"\n#C=3\nbroken line\nA=9\n")
    monkeypatch.setenv("A", "real")
    store: dict = {"A": "real"}
    cli.load_env(str(env), environ=store)
    assert store == {"A": "real", "B": "two"}  # env wins; comments skipped


def test_cli_pipeline_end_to_end(spark, offline_env):
    o = offline_env
    base = ["--env-file", o["env"]]

    assert cli.main(base + ["seed", "--tickers-json",
                            o["tickers_json"]]) == 0
    companies = sinks.read_table(spark, o["warehouse"] + "/companies")
    assert [(r["cik"], r["ticker"], r["name"])
            for r in companies.collect()] == \
        [(CIK10, "TESTCO", "TestCo")]

    assert cli.main(base + ["ingest", "--from-json", o["spool"]]) == 0
    facts = sinks.read_table(spark, o["warehouse"] + "/facts")
    assert facts.count() == 9  # 2 Revenues + 7 single-fact tags
    filings = sinks.read_table(spark, o["warehouse"] + "/filings")
    assert {r["accession_no"] for r in filings.collect()} == {"a1", "a2"}

    # re-ingest is a no-op (ON CONFLICT DO NOTHING parity)
    assert cli.main(base + ["ingest", "--from-json", o["spool"]]) == 0
    assert sinks.read_table(spark, o["warehouse"] + "/facts").count() == 9

    assert cli.main(base + ["build"]) == 0
    stm = sinks.read_table(
        spark, o["warehouse"] + "/statements_annual").collect()
    assert len(stm) == 1
    r = stm[0]
    assert r["cik"] == CIK10 and r["fiscal_year"] == 2020
    assert r["revenues"] == 105.0       # v3 coalesce priority
    assert r["capex"] == 8.0            # sign fix
    assert r["free_cash_flow"] == 22.0

    assert cli.main(base + ["ratios"]) == 0
    ratios = sinks.read_table(
        spark, o["warehouse"] + "/ratios_annual").collect()
    assert len(ratios) == 1
    assert ratios[0]["gross_margin"] == 40.0 / 105.0

    # build/ratios are idempotent PK upserts
    assert cli.main(base + ["build"]) == 0
    assert cli.main(base + ["ratios"]) == 0
    assert sinks.read_table(
        spark, o["warehouse"] + "/ratios_annual").count() == 1


def test_cli_reingest_fact_under_new_accession_adds_no_row(
    spark, offline_env, tmp_path
):
    """The facts natural key (db/schema.sql:39 UNIQUE) has value and
    filed but no accession number: a stored fact repeated under another
    filing is the same row, which ON CONFLICT DO NOTHING keeps once."""
    o = offline_env
    base = ["--env-file", o["env"], "--warehouse", o["warehouse"]]
    assert cli.main(base + ["seed", "--tickers-json",
                            o["tickers_json"]]) == 0
    assert cli.main(base + ["ingest", "--from-json", o["spool"]]) == 0
    facts_path = o["warehouse"] + "/facts"
    assert sinks.read_table(spark, facts_path).count() == 9

    spool2 = tmp_path / "docs2"
    spool2.mkdir()
    (spool2 / f"{CIK10}.json").write_text(json.dumps({
        "entityName": "TestCo",
        "cik": 320193,
        "facts": {"us-gaap": {"GrossProfit": {"units": {"USD": [
            _fact(40.0, "a3", "10-K", "2021-03-01",
                  "2020-01-01", "2020-12-31"),
        ]}}}},
    }))
    assert cli.main(base + ["ingest", "--from-json", str(spool2)]) == 0
    assert sinks.read_table(spark, facts_path).count() == 9


def test_cli_ingest_keeps_every_filing_and_only_fact_columns(
    spark, offline_env, tmp_path
):
    """Two items that differ only in accession are one fact (the
    natural key has no accession) but two filings: ``filings`` comes
    from the flatten, not from the deduped facts. ``facts`` stores
    FACTS_SCHEMA's columns (plus the audit stamps), not the flatten's
    ``fy``/``fp``."""
    from sec_xbrl_finwarehouse_spark.schemas import FACTS_SCHEMA

    o = offline_env
    base = ["--env-file", o["env"], "--warehouse", o["warehouse"]]
    assert cli.main(base + ["seed", "--tickers-json",
                            o["tickers_json"]]) == 0
    spool = tmp_path / "twins"
    spool.mkdir()
    (spool / f"{CIK10}.json").write_text(json.dumps({
        "entityName": "TestCo",
        "cik": 320193,
        "facts": {"us-gaap": {"Revenues": {"units": {"USD": [
            _fact(100.0, accn, "10-K", "2021-02-01",
                  "2020-01-01", "2020-12-31")
            for accn in ("a1", "a2")
        ]}}}},
    }))
    assert cli.main(base + ["ingest", "--from-json", str(spool)]) == 0

    filings = sinks.read_table(spark, o["warehouse"] + "/filings")
    assert sorted(r["accession_no"] for r in filings.collect()) == \
        ["a1", "a2"]
    facts = sinks.read_table(spark, o["warehouse"] + "/facts")
    assert facts.count() == 1
    assert facts.columns == [*FACTS_SCHEMA.fieldNames(),
                             sinks.CREATED_AT, sinks.UPDATED_AT]


def test_cli_ingest_into_old_facts_table_names_the_fix(spark, offline_env):
    """A facts table written by the older ingest, which stored the
    flatten's ``fy``/``fp`` columns, stops ingest with a message naming
    the table, the extra columns and the fix, not an analyzer error."""
    from sec_xbrl_finwarehouse_spark.schemas import FACTS_NATURAL_KEY
    from sec_xbrl_finwarehouse_spark.sources.companyfacts import (
        dedup_facts,
        flatten_facts,
        read_companyfacts_json,
    )

    o = offline_env
    base = ["--env-file", o["env"], "--warehouse", o["warehouse"]]
    assert cli.main(base + ["seed", "--tickers-json",
                            o["tickers_json"]]) == 0
    facts_path = os.path.join(o["warehouse"], "facts")
    old = dedup_facts(flatten_facts(read_companyfacts_json(spark, o["spool"])))
    sinks.append_if_absent(spark, facts_path, old,
                           keys=list(FACTS_NATURAL_KEY))
    assert {"fy", "fp"} <= set(sinks.read_table(spark, facts_path).columns)

    with pytest.raises(SystemExit) as exc:
        cli.main(base + ["ingest", "--from-json", o["spool"]])
    msg = str(exc.value)
    assert facts_path in msg
    assert "'fy'" in msg and "'fp'" in msg
    assert "Delete" in msg


def test_cli_serve_responds(offline_env, capsys):
    o = offline_env
    base = ["--env-file", o["env"]]
    cli.main(base + ["seed", "--tickers-json", o["tickers_json"]])
    cli.main(base + ["ingest", "--from-json", o["spool"]])
    cli.main(base + ["build"])
    cli.main(base + ["ratios"])
    # the .env's WAREHOUSE_DIR, not one an earlier test left in
    # os.environ, decides where the tables land
    for table in ("companies", "facts", "statements_annual",
                  "ratios_annual"):
        assert sinks.current_data_dir(
            os.path.join(o["warehouse"], table)) is not None, table

    # port 0: the OS picks a free port, which serve prints once bound,
    # so concurrent test sessions never contend for one fixed port
    t = threading.Thread(
        target=cli.main,
        args=(base + ["serve", "--port", "0"],),
        daemon=True,
    )
    t.start()
    import re
    import time
    deadline = time.time() + 30
    out = ""
    while (m := re.search(r"serving on http://127\.0\.0\.1:(\d+)", out)) is None:
        assert time.time() < deadline, f"serve never came up: {out!r}"
        time.sleep(0.5)
        out += capsys.readouterr().out
    port = int(m.group(1))
    assert port != 0
    with urllib.request.urlopen(
        f"http://127.0.0.1:{port}/company/TESTCO", timeout=5
    ) as resp:
        body = json.loads(resp.read())
        assert resp.status == 200
        assert body["ticker"] == "TESTCO"
        assert body["cik"] == CIK10


def test_cli_missing_prereqs_fail_cleanly(tmp_path, monkeypatch):
    # load_env writes into os.environ, which persists across in-process
    # main() calls from the other tests -- scrub it so THIS test sees a
    # clean environment (a real CLI run is one process, one load_env)
    for var in ("WAREHOUSE_DIR", "TICKERS", "SEC_USER_AGENT", "QUOTED"):
        monkeypatch.delenv(var, raising=False)
    env = tmp_path / ".env"
    env.write_text(f"WAREHOUSE_DIR={tmp_path / 'w'}\n")
    with pytest.raises(SystemExit):
        cli.main(["--env-file", str(env), "ingest"])   # no companies
    with pytest.raises(SystemExit):
        cli.main(["--env-file", str(env), "build"])    # no facts
    with pytest.raises(SystemExit):
        cli.main(["--env-file", str(env), "ratios"])   # no statements
    with pytest.raises(SystemExit):
        cli.main(["--env-file", str(env), "seed"])     # no TICKERS
