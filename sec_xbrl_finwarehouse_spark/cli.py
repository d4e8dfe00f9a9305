"""Operational entry points mirroring the reference's script surface.

The reference is driven as ``python scripts/seed_companies.py`` ->
``python scripts/ingest_facts.py`` ->
``python scripts/build_statements_annual_v3.py`` ->
``python scripts/compute_ratios.py`` -> ``uvicorn ...api:app``, each
reading its configuration from ``.env`` (seed_companies.py:24-35,
ingest_facts.py:91-98, README run instructions). This module is that
workflow as ONE console entry over the Spark engine:

    python -m sec_xbrl_finwarehouse_spark seed   [--env-file .env]
    python -m sec_xbrl_finwarehouse_spark ingest [--from-json DIR]
    python -m sec_xbrl_finwarehouse_spark build
    python -m sec_xbrl_finwarehouse_spark ratios
    python -m sec_xbrl_finwarehouse_spark serve  [--host H] [--port P]

Configuration comes from the environment (optionally loaded from a
``.env`` file, stdlib parser -- no python-dotenv dependency):

* ``SEC_USER_AGENT`` -- required for any SEC HTTP fetch (same contract
  as the reference: SEC rejects anonymous clients).
* ``TICKERS``        -- comma-separated seed list (seed_companies.py).
* ``WAREHOUSE_DIR``  -- root directory of the versioned parquet
  warehouse (the Spark analogue of the reference's DATABASE_URL).

Offline operation (tests, air-gapped runs): ``seed --tickers-json``
reads a local copy of company_tickers.json instead of fetching it, and
``ingest --from-json DIR`` reads ``<DIR>/<cik10>.json`` companyfacts
documents instead of hitting the SEC API. The pipeline downstream of
the fetch is byte-identical in both modes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
from collections.abc import Sequence

from pyspark.sql import SparkSession


def load_env(path: str | None, environ: dict | None = None) -> None:
    """Load ``KEY=VALUE`` lines from a dotenv file into the process
    environment WITHOUT overriding variables already set (the standard
    dotenv precedence: real environment wins). Comments (#...), blank
    lines, ``export`` prefixes, and single/double quotes are handled;
    anything else malformed is ignored rather than fatal."""
    env = os.environ if environ is None else environ
    if not path or not os.path.exists(path):
        return
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if not line or line.startswith("#") or "=" not in line:
                continue
            if line.startswith("export "):
                line = line[len("export "):]
            key, _, val = line.partition("=")
            key = key.strip()
            val = val.strip()
            if len(val) >= 2 and val[0] == val[-1] and val[0] in "'\"":
                val = val[1:-1]
            if key and key not in env:
                env[key] = val


def _require(name: str) -> str:
    val = os.environ.get(name, "").strip()
    if not val:
        raise SystemExit(f"Missing {name} in environment/.env")
    return val


def _warehouse(args) -> str:
    return args.warehouse or _require("WAREHOUSE_DIR")


def _spark(args) -> SparkSession:
    from .session import get_spark

    return get_spark("sec-xbrl-finwarehouse-cli")


# ---- seed -------------------------------------------------------------------

def cmd_seed(args) -> int:
    """seed_companies.py parity: TICKERS -> (cik, ticker, name) rows ->
    companies table upsert (ON CONFLICT (cik) DO UPDATE)."""
    from . import sinks
    from .sources.sec_client import get_ticker_cik_map

    tickers_env = args.tickers or _require("TICKERS")
    tickers = [t.strip().upper() for t in tickers_env.split(",")
               if t.strip()]
    if not tickers:
        raise SystemExit("No tickers to seed")
    if args.tickers_json:
        with open(args.tickers_json, encoding="utf-8") as f:
            data = json.load(f)
        mapping = {
            row["ticker"].upper(): {
                "cik": str(row["cik_str"]).zfill(10), "name": row["title"],
            }
            for row in data.values()
        }
    else:
        mapping = get_ticker_cik_map(_require("SEC_USER_AGENT"))
    rows = []
    for t in tickers:
        if t not in mapping:
            print(f"ticker not found in SEC mapping: {t}", file=sys.stderr)
            continue
        rows.append((mapping[t]["cik"], t, mapping[t]["name"]))
    if not rows:
        raise SystemExit("No valid tickers found to insert")
    spark = _spark(args)
    companies = spark.createDataFrame(
        rows, "cik string, ticker string, name string"
    )
    path = os.path.join(_warehouse(args), "companies")
    sinks.upsert(spark, path, companies, keys=["cik"])
    print(f"seeded {len(rows)} companies -> {path}")
    return 0


# ---- ingest -----------------------------------------------------------------

def cmd_ingest(args) -> int:
    """ingest_facts.py parity: for every seeded company, fetch its
    companyfacts document (SEC API, or ``--from-json`` for offline),
    flatten/filter/dedup, then commit filings and facts with
    insert-if-absent semantics (ON CONFLICT DO NOTHING)."""
    from . import sinks
    from .schemas import FACTS_NATURAL_KEY, FACTS_SCHEMA
    from .sources.companyfacts import (
        dedup_facts,
        derive_filings,
        flatten_facts,
        read_companyfacts_json,
    )

    warehouse = _warehouse(args)
    spark = _spark(args)
    companies = sinks.read_table(
        spark, os.path.join(warehouse, "companies")
    )
    if companies is None:
        raise SystemExit("companies table is empty: run `seed` first")
    seeded = sorted(
        ((r["cik"], r["ticker"]) for r in
         companies.select("cik", "ticker").collect()),
        key=lambda x: x[1],
    )
    # a facts table written by an older ingest carries the flatten's
    # fy/fp; the insert-if-absent below cannot project new rows onto it
    facts_path = os.path.join(warehouse, "facts")
    stored = sinks.read_table(spark, facts_path)
    known = (*FACTS_SCHEMA.fieldNames(), sinks.CREATED_AT, sinks.UPDATED_AT)
    extra = [] if stored is None else [
        c for c in stored.columns if c not in known
    ]
    if extra:
        raise SystemExit(
            f"{facts_path} has columns {extra} that FACTS_SCHEMA lacks: "
            "it was written by an older ingest. Delete that directory "
            "and run ingest again."
        )

    # spool every company's document into one directory, then run the
    # flatten/dedup pipeline ONCE over the whole batch (the per-company
    # loop below is only the paced HTTP fetch; Spark sees a single read)
    spool = tempfile.mkdtemp(prefix="companyfacts_")
    client = None
    try:
        n_spooled = 0
        for cik, ticker in seeded:
            print(f"fetching {ticker} (CIK {cik})")
            if args.from_json:
                src = os.path.join(args.from_json, f"{cik}.json")
                if not os.path.exists(src):
                    print(f"  no local document for {ticker} ({src})",
                          file=sys.stderr)
                    continue
                shutil.copyfile(src, os.path.join(spool, f"{cik}.json"))
            else:
                if client is None:
                    from .sources.sec_client import SecClient

                    client = SecClient(_require("SEC_USER_AGENT"))
                doc = client.get_company_facts(cik)
                with open(os.path.join(spool, f"{cik}.json"), "w",
                          encoding="utf-8") as f:
                    json.dump(doc, f)
            n_spooled += 1
        if n_spooled == 0:
            raise SystemExit("No companyfacts documents to ingest")

        # filings come from the flatten, before the dedup: two items
        # that differ only in accession are one fact but two filings
        flat = flatten_facts(read_companyfacts_json(spark, spool))
        facts = dedup_facts(flat.select(*FACTS_SCHEMA.fieldNames()))
        filings = derive_filings(flat)
        n_filings = sinks.append_if_absent(
            spark, os.path.join(warehouse, "filings"), filings,
            keys=["accession_no"],
        )
        n_facts = sinks.append_if_absent(
            spark, facts_path, facts,
            keys=list(FACTS_NATURAL_KEY),
        )
        print(f"ingested {n_spooled} companies: "
              f"filings files committed={n_filings}, "
              f"facts files committed={n_facts}")
        return 0
    finally:
        shutil.rmtree(spool, ignore_errors=True)


# ---- build / ratios ---------------------------------------------------------

def cmd_build(args) -> int:
    """build_statements_annual_v3.py parity: statements_annual mart
    from the ingested facts table (PK upsert, idempotent rebuild)."""
    from . import sinks
    from .materialize import MART_KEYS
    from .plans.statements import build_statements

    warehouse = _warehouse(args)
    spark = _spark(args)
    facts = sinks.read_table(spark, os.path.join(warehouse, "facts"))
    if facts is None:
        raise SystemExit("facts table is empty: run `ingest` first")
    statements = build_statements(facts, version="v3")
    path = os.path.join(warehouse, "statements_annual")
    sinks.upsert(spark, path, statements, keys=list(MART_KEYS))
    print(f"built statements_annual (v3) -> {path}")
    return 0


def cmd_ratios(args) -> int:
    """compute_ratios.py parity: ratios_annual mart from the statements
    mart (PK upsert, idempotent rebuild)."""
    from . import sinks
    from .materialize import MART_KEYS
    from .plans.ratios import compute_ratios

    warehouse = _warehouse(args)
    spark = _spark(args)
    statements = sinks.read_table(
        spark, os.path.join(warehouse, "statements_annual")
    )
    if statements is None:
        raise SystemExit("statements_annual is empty: run `build` first")
    ratios = compute_ratios(statements)
    path = os.path.join(warehouse, "ratios_annual")
    sinks.upsert(spark, path, ratios, keys=list(MART_KEYS))
    print(f"built ratios_annual -> {path}")
    return 0


# ---- serve ------------------------------------------------------------------

def cmd_serve(args) -> int:
    """uvicorn-parity local serving: the WSGI app over the companies +
    ratios marts under stdlib wsgiref (README run instructions)."""
    from . import api, sinks

    warehouse = _warehouse(args)
    spark = _spark(args)
    companies = sinks.read_table(
        spark, os.path.join(warehouse, "companies")
    )
    ratios = sinks.read_table(
        spark, os.path.join(warehouse, "ratios_annual")
    )
    if companies is None or ratios is None:
        raise SystemExit("marts missing: run seed/ingest/build/ratios first")
    api.serve(companies, ratios, host=args.host, port=args.port)
    return 0


# ---- argument surface ---------------------------------------------------------

def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m sec_xbrl_finwarehouse_spark",
        description=__doc__.split("\n\n")[0],
    )
    p.add_argument("--env-file", default=".env",
                   help="dotenv file to load (default: ./.env)")
    p.add_argument("--warehouse", default=None,
                   help="warehouse root (overrides WAREHOUSE_DIR)")
    sub = p.add_subparsers(dest="command", required=True)

    # the shared flags are ALSO accepted after the subcommand (the
    # placement the module docstring shows: `seed --env-file .env`).
    # SUPPRESS defaults keep a subcommand-side absence from clobbering
    # a value parsed from the root-side position.
    shared = argparse.ArgumentParser(add_help=False)
    shared.add_argument("--env-file", default=argparse.SUPPRESS,
                        help=argparse.SUPPRESS)
    shared.add_argument("--warehouse", default=argparse.SUPPRESS,
                        help=argparse.SUPPRESS)

    seed = sub.add_parser("seed", help="seed the companies table",
                          parents=[shared])
    seed.add_argument("--tickers", default=None,
                      help="comma-separated tickers (overrides TICKERS)")
    seed.add_argument("--tickers-json", default=None,
                      help="local company_tickers.json (offline mode)")
    seed.set_defaults(func=cmd_seed)

    ingest = sub.add_parser("ingest", help="ingest companyfacts",
             parents=[shared])
    ingest.add_argument("--from-json", default=None,
                        help="directory of <cik10>.json documents "
                             "(offline mode)")
    ingest.set_defaults(func=cmd_ingest)

    build = sub.add_parser("build", help="build statements_annual",
            parents=[shared])
    build.set_defaults(func=cmd_build)

    ratios = sub.add_parser("ratios", help="build ratios_annual",
             parents=[shared])
    ratios.set_defaults(func=cmd_ratios)

    serve = sub.add_parser("serve", help="serve the query API",
            parents=[shared])
    serve.add_argument("--host", default="127.0.0.1")
    serve.add_argument("--port", type=int, default=8000)
    serve.set_defaults(func=cmd_serve)
    return p


def main(argv: Sequence[str] | None = None) -> int:
    args = _parser().parse_args(argv)
    load_env(args.env_file)
    return args.func(args)
