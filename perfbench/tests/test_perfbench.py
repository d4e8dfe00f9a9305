"""The benchmark's own tests: generators are deterministic, the checkers
catch planted wrong answers, and every metric the benchmark can print is
declared in BENCHMARK.json. No Spark needed:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


def _declared() -> dict[str, dict]:
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        b = json.load(f)
    return {m["name"]: m for m in b["end_to_end"] + b["per_layer"]}


# --------------------------------------------------------------------------
# generator determinism
# --------------------------------------------------------------------------

def _write_all(seed: int, out: str) -> None:
    gen.Warehouse(seed).write_documents(f"{out}/docs")
    rows, _planted = gen.dedup_corpus(seed, n_docs=200, n_planted=20)
    gen.write_corpus(f"{out}/corpus", rows)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    _write_all(7, str(tmp_path / "a"))
    _write_all(7, str(tmp_path / "b"))
    cmp = filecmp.dircmp(tmp_path / "a", tmp_path / "b")
    for sub in ("docs", "corpus"):
        files = os.listdir(tmp_path / "a" / sub)
        match, mismatch, errors = filecmp.cmpfiles(
            tmp_path / "a" / sub, tmp_path / "b" / sub, files, shallow=False)
        assert files and not mismatch and not errors, (sub, mismatch, errors)
    assert not cmp.left_only and not cmp.right_only
    assert gen.request_schedule(7, 6.0, 10) == gen.request_schedule(7, 6.0, 10)
    assert gen.dedup_corpus(7, 200, 20) == gen.dedup_corpus(7, 200, 20)


def test_other_seed_gives_other_inputs():
    assert gen.request_schedule(7, 6.0, 10) != gen.request_schedule(8, 6.0, 10)
    assert (gen.Warehouse(7).expected_statements()
            != gen.Warehouse(8).expected_statements())


def test_schedule_mix_is_exact_per_block():
    truth = check.ApiTruth(gen.Warehouse(3, years=1).expected_statements())
    reqs = gen.request_schedule(3, 50.0, 20)[:210]
    counts = {e: sum(r.endpoint == e for r in reqs) for e in layers.ENDPOINTS}
    assert counts == {"company": 70, "ratios": 70, "screener": 70}
    bad = [r for r in reqs if truth.respond(r.endpoint, r.params)[0] != 200]
    assert len(bad) == 10


def test_expected_statements_apply_the_documented_rules():
    it = gen.Item
    items = [
        it("us-gaap", "Revenues", "USD", 100.0, "a1", "10-K", "2021-02-01",
           "2020-01-01", "2020-12-31", 2020, "FY"),
        # later filed wins
        it("us-gaap", "Revenues", "USD", 110.0, "a2", "10-K", "2021-03-01",
           "2020-01-01", "2020-12-31", 2020, "FY"),
        # filtered: amendment form, EUR, other taxonomy, NULL, quarter
        it("us-gaap", "Revenues", "USD", 1.0, "a3", "10-K/A", "2021-04-01",
           "2020-01-01", "2020-12-31", 2020, "FY"),
        it("us-gaap", "Revenues", "EUR", 2.0, "a4", "10-K", "2021-04-01",
           "2020-01-01", "2020-12-31", 2020, "FY"),
        it("ifrs-full", "Revenues", "USD", 3.0, "a5", "20-F", "2021-04-01",
           "2020-01-01", "2020-12-31", 2020, "FY"),
        it("us-gaap", "Revenues", "USD", None, "a6", "10-K", "2021-04-01",
           "2020-01-01", "2020-12-31", 2020, "FY"),
        it("us-gaap", "Revenues", "USD", 4.0, "a7", "10-K", "2021-04-01",
           "2020-10-01", "2020-12-31", 2020, "Q4"),
        it("us-gaap", "PaymentsToAcquirePropertyPlantAndEquipment", "USD", -8.0,
           "a2", "10-K", "2021-03-01", "2020-01-01", "2020-12-31", 2020, "FY"),
        it("us-gaap", "NetCashProvidedByUsedInOperatingActivities", "USD", 30.0,
           "a2", "10-K", "2021-03-01", "2020-01-01", "2020-12-31", 2020, "FY"),
        it("us-gaap", "StockholdersEquity", "USD", 0.0, "a2", "10-K",
           "2021-03-01", None, "2020-12-31", 2020, "FY"),
    ]
    row = gen.expected_statements("0000000001", items)[("0000000001", 2020)]
    assert row["revenues"] == 110.0
    assert row["capex"] == 8.0 and row["free_cash_flow"] == 22.0
    assert row["total_equity"] == 0.0
    assert gen.expected_ratios(row)["roe"] is None  # zero denominator


# --------------------------------------------------------------------------
# checkers catch planted wrong answers
# --------------------------------------------------------------------------

def _mart_rows(expected):
    stmts = [{"cik": c, "fiscal_year": fy, **v} for (c, fy), v in expected.items()]
    ratios = [{"cik": c, "fiscal_year": fy, **gen.expected_ratios(v)}
              for (c, fy), v in expected.items()]
    return stmts, ratios


def test_check_marts_flags_a_planted_wrong_value():
    expected = gen.Warehouse(5, years=2).expected_statements(range(20))
    stmts, ratios = _mart_rows(expected)
    assert check.check_marts(stmts, ratios, expected) == []
    stmts[3]["net_income"] = (stmts[3]["net_income"] or 0.0) + 1000.0
    errs = check.check_marts(stmts, ratios, expected)
    assert errs and "net_income" in errs[0]


def test_check_marts_flags_missing_and_extra_rows():
    expected = gen.Warehouse(5, years=2).expected_statements(range(5))
    stmts, ratios = _mart_rows(expected)
    extra = dict(stmts[0], fiscal_year=1999)
    errs = check.check_marts(stmts[1:] + [extra], ratios, expected)
    assert any("missing" in e for e in errs)
    assert any("unexpected" in e for e in errs)


def test_check_response_flags_a_wrong_body_and_status():
    truth = check.ApiTruth(gen.Warehouse(5, years=3).expected_statements())
    reqs = gen.request_schedule(5, 50.0, 10)
    assert reqs
    for req in reqs:
        status, body = truth.respond(req.endpoint, req.params)
        text = json.dumps(body if body is not None else {"detail": "bad"})
        assert check.check_response(truth, req.endpoint, req.params,
                                    status, text) is None
    ratios = next(r for r in reqs if r.endpoint == "ratios"
                  and truth.respond(r.endpoint, r.params)[0] == 200)
    status, body = truth.respond(ratios.endpoint, ratios.params)
    body["years"][0]["roa"] = 123.0
    assert check.check_response(truth, ratios.endpoint, ratios.params,
                                status, json.dumps(body))
    assert check.check_response(truth, ratios.endpoint, ratios.params,
                                500, json.dumps(body))


def test_check_dedup_flags_wrong_keep_and_low_recall():
    texts, planted = gen.dedup_corpus(2, n_docs=60, n_planted=10)
    pairs = sorted({(min(a, b), max(a, b), gen.jaccard(texts[a], texts[b]))
                    for a in range(len(texts)) for b in range(a + 1, len(texts))
                    if gen.jaccard(texts[a], texts[b]) >= 0.5})
    comp = gen.expected_components(len(texts), [(a, b) for a, b, _ in pairs])
    clusters = [(d, rep, rep == d) for d, rep in comp.items()]
    best = {}
    for d, rep in comp.items():
        cand = (-len(gen.tokens_of(texts[d])), d)
        best[rep] = min(best.get(rep, cand), cand)
    keepers = {d for _, d in best.values()}
    keep = [(d, comp[d], len(gen.tokens_of(texts[d])), d in keepers)
            for d in comp]
    errs, recall = check.check_dedup(texts, planted, pairs, clusters, keep,
                                     gen.jaccard)
    assert errs == [] and recall == 1.0
    wrong = [(d, r, n, not k) if d == keep[0][0] else (d, r, n, k)
             for d, r, n, k in keep]
    assert check.check_dedup(texts, planted, pairs, clusters, wrong,
                             gen.jaccard)[0]
    assert check.check_dedup(texts, planted, [], clusters, keep,
                             gen.jaccard)[0]


# --------------------------------------------------------------------------
# metrics and tracing
# --------------------------------------------------------------------------

def test_every_printed_metric_is_declared():
    declared = _declared()
    printed = {**run.E2E, **layers.UNITS}
    assert printed.keys() == declared.keys()
    for name, unit in printed.items():
        assert declared[name]["unit"] == unit, name


def test_per_layer_emits_exactly_the_declared_names():
    sp = [
        {"id": 1, "name": "api.request", "parent": None, "request": "0",
         "endpoint": "ratios", "start": 0.0, "end": 1.0},
        {"id": 2, "name": "serving.collect_response", "parent": 1,
         "request": "0", "start": 0.2, "end": 0.6},
    ]
    per_span = {2: dict.fromkeys(spans.SPARK_METRICS + (
        "records_read", "output_bytes", "output_records", "output_files"), 1)}
    m = layers.Measured([10.0], 1, 0, units={"write": 1, "read": 1},
                 stats={"rows_returned": 2}, samples={})
    out = layers.per_layer(sp, per_span, m, 1.0, [10.0])
    assert out.keys() == layers.UNITS.keys()
    assert abs(out["serving.collect_ms.ratios.p50"] - 400.0) < 1e-9
    assert abs(out["self_s.api"] - 0.6) < 1e-12
    assert out["serving.records_read_per_row_returned"] == 0.5


def test_self_time_subtracts_overlapping_children():
    sp = [
        {"id": 1, "name": "a", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "name": "b", "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "name": "c", "parent": 1, "start": 3.0, "end": 5.0},
    ]
    assert spans.self_times(sp) == {1: 6.0, 2: 3.0, 3: 2.0}


def test_event_log_attributes_tasks_to_job_group_spans(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "span-7"}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 0, "Submission Time": 1000}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1500, "Finish Time": 2000},
         "Task Metrics": {"Executor Run Time": 400, "Executor CPU Time": 3e8,
                          "JVM GC Time": 10,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 64},
                          "Input Metrics": {"Records Read": 5},
                          "Output Metrics": {"Bytes Written": 9,
                                             "Records Written": 3}}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1],
         "Properties": {}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events))
    got = spans.read_event_log(str(tmp_path))
    a = got[7]
    assert (a["jobs"], a["tasks"], a["task_run_s"], a["task_wait_s"]) == (1, 1, 0.4, 0.5)
    assert a["task_cpu_s"] == 0.3 and a["shuffle_write_bytes"] == 64
    assert (a["records_read"], a["output_bytes"], a["output_files"]) == (5, 9, 1)
    assert got[None]["jobs"] == 1


def test_tail_is_above_the_median():
    assert gen.percentile_tail(list(range(15))) == (100.0, 14)
    pct, v = gen.percentile_tail(list(range(100)))
    assert v == 89 and pct == 90.0


def test_bare_directory_exits_nonzero_without_a_result(tmp_path, capsys):
    import shutil

    bench = tmp_path / "perfbench"
    shutil.copytree(BENCH, bench, ignore=shutil.ignore_patterns("__pycache__"))
    import subprocess

    p = subprocess.run([sys.executable, str(bench / "run.py"), "--workload",
                        "serve", "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0 and p.stdout == ""
