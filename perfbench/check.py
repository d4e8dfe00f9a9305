"""Output checks: every mart row, API response and dedup result the
benchmark sees is compared with the generators' ground truth. Each check
returns a list of human-readable mismatches (empty = correct)."""

from __future__ import annotations

import json

from gen import (
    RATIO_COLUMNS,
    STATEMENT_COLUMNS,
    expected_ratios,
    isclose,
    name_of,
    ticker_of,
)


def _row_diffs(kind, key, got: dict, want: dict, cols) -> list[str]:
    return [f"{kind} {key} {c}: got {got.get(c)!r} want {want[c]!r}"
            for c in cols if not isclose(got.get(c), want[c])]


def check_marts(statements: list[dict], ratios: list[dict],
                expected: dict[tuple[str, int], dict]) -> list[str]:
    """statements_annual and ratios_annual rows, keyed (cik, fiscal_year),
    must equal ``expected`` exactly: same keys, same values."""
    errs = []
    for kind, rows, cols, want_of in (
        ("statements", statements, STATEMENT_COLUMNS, lambda e: e),
        ("ratios", ratios, RATIO_COLUMNS, expected_ratios),
    ):
        got = {(r["cik"], r["fiscal_year"]): r for r in rows}
        if len(got) != len(rows):
            errs.append(f"{kind}: duplicate (cik, fiscal_year) keys")
        for key in got.keys() - expected.keys():
            errs.append(f"{kind}: unexpected row {key}")
        for key, want in expected.items():
            if key not in got:
                errs.append(f"{kind}: missing row {key}")
            else:
                errs += _row_diffs(kind, key, got[key], want_of(want), cols)
    return errs


# --------------------------------------------------------------------------
# API responses
# --------------------------------------------------------------------------

class ApiTruth:
    """Expected API responses over the expected marts."""

    def __init__(self, expected_stmts: dict[tuple[str, int], dict]):
        self.by_cik: dict[str, list[tuple[int, dict]]] = {}
        self.rows = []
        for (cik, fy), s in expected_stmts.items():
            r = expected_ratios(s)
            self.by_cik.setdefault(cik, []).append((fy, r))
            self.rows.append((cik, fy, r))
        for v in self.by_cik.values():
            v.sort(key=lambda t: -t[0])
        self.rows.sort(key=lambda t: (-t[1], t[2]["roe"] is None,
                                      -(t[2]["roe"] or 0.0), t[0]))

    def respond(self, endpoint: str, params: tuple) -> tuple[int, dict | None]:
        """(status, body) the API must return; body None = any detail."""
        if endpoint == "company":
            tk = params[0].upper()
            key = _key_of(tk)
            if key is None:
                return 404, {"detail": "Ticker not found"}
            return 200, {"cik": f"{key:010d}", "ticker": tk, "name": name_of(key)}
        if endpoint == "ratios":
            tk, limit = params
            if not 1 <= limit <= 50:
                return 422, None
            cik = f"{_key_of(tk):010d}"
            years = [{"fiscal_year": fy, **r}
                     for fy, r in self.by_cik.get(cik, [])[:limit]]
            return 200, {"ticker": tk, "years": years}
        q = dict(params)
        if not isinstance(q.get("min_roe", 0.0), (float, type(None))):
            return 422, None
        res = []
        for cik, fy, r in self.rows:
            if q.get("year") is not None and fy != q["year"]:
                continue
            if not all(q.get(p) is None or (r[c] is not None and r[c] >= q[p])
                       for p, c in (("min_roe", "roe"),
                                    ("min_fcf_margin", "fcf_margin"),
                                    ("min_net_margin", "net_margin"))):
                continue
            key = int(cik)
            res.append({"ticker": ticker_of(key), "name": name_of(key),
                        "fiscal_year": fy, "roe": r["roe"],
                        "fcf_margin": r["fcf_margin"],
                        "net_margin": r["net_margin"]})
            if len(res) == q["limit"]:
                break
        return 200, {"results": res}


def _key_of(ticker: str) -> int | None:
    if ticker.startswith("SUPPLIER#") and ticker[9:].isdigit():
        return int(ticker[9:])
    return None


def _same(got, want) -> bool:
    if isinstance(want, dict):
        return (isinstance(got, dict) and got.keys() == want.keys()
                and all(_same(got[k], want[k]) for k in want))
    if isinstance(want, list):
        return (isinstance(got, list) and len(got) == len(want)
                and all(_same(g, w) for g, w in zip(got, want)))
    if isinstance(want, float) or isinstance(got, float):
        return isclose(got, want)
    return got == want


def check_response(truth: ApiTruth, endpoint: str, params: tuple,
                   status: int, body: str) -> str | None:
    """None when the response is the expected one, else the mismatch."""
    want_status, want_body = truth.respond(endpoint, params)
    if status != want_status:
        return f"{endpoint} {params}: status {status}, want {want_status}"
    try:
        got = json.loads(body)
    except ValueError:
        return f"{endpoint} {params}: body is not JSON"
    if want_body is None:
        return None if isinstance(got, dict) and "detail" in got else \
            f"{endpoint} {params}: error body {body[:80]!r}"
    if not _same(got, want_body):
        return f"{endpoint} {params}: body differs"
    return None


def rows_returned(endpoint: str, body: str) -> int:
    got = json.loads(body)
    if endpoint == "ratios":
        return len(got.get("years", ()))
    if endpoint == "screener":
        return len(got.get("results", ()))
    return int("cik" in got)


# --------------------------------------------------------------------------
# near-duplicate chain
# --------------------------------------------------------------------------

RECALL_FLOOR = 0.99


def check_dedup(texts: list[str], planted: dict, pairs, clusters, keep_best,
                jaccard) -> tuple[list[str], float]:
    """LSH pairs, clusters and keep-best rows against the corpus.

    * every reported pair has exact shingle Jaccard >= 0.5 and its
      reported value;
    * planted pairs at Jaccard >= 0.5 are found at or above RECALL_FLOOR;
    * clusters are the connected components of the reported pairs,
      labelled by their minimum doc_id;
    * keep-best keeps exactly the longest (then lowest-id) member of
      every cluster."""
    from gen import expected_components, tokens_of

    errs = []
    found = {}
    for d1, d2, j in pairs:
        found[(d1, d2)] = j
        exact = jaccard(texts[d1], texts[d2])
        if exact < 0.5 or not isclose(j, exact):
            errs.append(f"pair {(d1, d2)}: jaccard {j}, exact {exact}")
    want = [p for p, j in planted.items() if j >= 0.5]
    hit = sum(p in found for p in want)
    recall = hit / len(want) if want else 1.0
    if recall < RECALL_FLOOR:
        errs.append(f"planted-pair recall {recall:.3f} < {RECALL_FLOOR}")
    comp = expected_components(len(texts), found)
    got_c = {d: (rep, keep) for d, rep, keep in clusters}
    if len(got_c) != len(texts):
        errs.append(f"clusters: {len(got_c)} rows for {len(texts)} docs")
    for d, rep in comp.items():
        if got_c.get(d) != (rep, rep == d):
            errs.append(f"cluster of doc {d}: got {got_c.get(d)}, want {rep}")
            break
    best: dict[int, tuple[int, int]] = {}
    for d, rep in comp.items():
        cand = (-len(tokens_of(texts[d])), d)
        if rep not in best or cand < best[rep]:
            best[rep] = cand
    keepers = {d for _, d in best.values()}
    got_k = {d: keep for d, _, _, keep in keep_best}
    if len(got_k) != len(texts):
        errs.append(f"keep_best: {len(got_k)} rows for {len(texts)} docs")
    bad = [d for d, keep in got_k.items() if keep != (d in keepers)]
    if bad:
        errs.append(f"keep_best: {len(bad)} wrong keep flags, e.g. doc {bad[0]}")
    return errs, recall
