"""Property-based tests (SURVEY.md §5.4): hypothesis-generated inputs
through the dedup/upsert/pivot operators.

Strategy sizes are kept small (each example runs real Spark jobs) but
the GENERATED SHAPES cover what example-based tests miss: duplicate
keys, NULL values, empty frames, single-row frames, and key collisions
between batches. deadline=None because Spark job latency is not the
property under test.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sec_xbrl_finwarehouse_spark.operators.dedup import natural_key_dedup
from sec_xbrl_finwarehouse_spark.operators.pivot import pivot_first
from sec_xbrl_finwarehouse_spark.operators.upsert import (
    insert_if_absent,
    upsert_latest_wins,
)

_SETTINGS = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_ROW_SCHEMA = T.StructType([
    T.StructField("k", T.IntegerType(), False),
    T.StructField("tag", T.StringType(), False),
    T.StructField("v", T.DoubleType(), True),
])

TAGS = ["a", "b", "c"]

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),
        st.sampled_from(TAGS),
        st.one_of(st.none(), st.floats(allow_nan=False, allow_infinity=False,
                                       width=32)),
    ),
    max_size=12,
)


def _df(spark, rows):
    return spark.createDataFrame(
        [(k, t, v) for k, t, v in rows], schema=_ROW_SCHEMA
    )


@_SETTINGS
@given(rows=rows_strategy)
def test_reingest_idempotent(spark, rows):
    """D1: dedup(batch ∪ batch) == dedup(batch) -- re-ingesting the same
    data is always a no-op, for ANY batch content."""
    df = _df(spark, rows)
    once = natural_key_dedup(df, ["k", "tag"])
    twice = natural_key_dedup(df.unionByName(df), ["k", "tag"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))
    # at most one survivor per key
    assert once.groupBy("k", "tag").count().filter(F.col("count") > 1).count() == 0


@_SETTINGS
@given(rows=rows_strategy)
def test_upsert_idempotent_and_total(spark, rows):
    """S5: upserting a batch into itself changes nothing; upserting into
    empty yields the batch; every key appears exactly once."""
    incoming = natural_key_dedup(_df(spark, rows), ["k", "tag"])
    merged = upsert_latest_wins(incoming, incoming, ["k", "tag"])
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, incoming.collect())
    )


@_SETTINGS
@given(rows=rows_strategy, rows2=rows_strategy)
def test_insert_if_absent_preserves_existing(spark, rows, rows2):
    """S6: existing rows always survive untouched; incoming rows appear
    iff their key was absent; result keys = union of key sets."""
    existing = natural_key_dedup(_df(spark, rows), ["k", "tag"])
    incoming = _df(spark, rows2)
    merged = insert_if_absent(existing, incoming, ["k", "tag"])
    got = {(r["k"], r["tag"]): r["v"] for r in merged.collect()}
    existing_rows = {(r["k"], r["tag"]): r["v"] for r in existing.collect()}
    incoming_keys = {(k, t) for k, t, _ in rows2}
    # existing values win on conflict
    for key, v in existing_rows.items():
        assert key in got and got[key] == v
    assert set(got) == set(existing_rows) | incoming_keys
    assert merged.count() == len(got)  # unique per key


@_SETTINGS
@given(rows=rows_strategy)
def test_pivot_unpivot_roundtrip(spark, rows):
    """A1: pivot then unpivot recovers exactly the unique long rows with
    non-null values (NULL cells are unobservable in the wide form, like
    the reference's dict never storing absent tags)."""
    long = natural_key_dedup(_df(spark, rows), ["k", "tag"])
    wide = pivot_first(long, ["k"], "tag", "v", TAGS)
    back = wide.unpivot("k", TAGS, "tag", "v").filter(F.col("v").isNotNull())
    expect = sorted(
        (r["k"], r["tag"], r["v"]) for r in long.collect() if r["v"] is not None
    )
    assert sorted(map(tuple, back.collect())) == expect


@pytest.mark.parametrize("n", [0, 1])
def test_pivot_degenerate_sizes(spark, n):
    """Empty and single-row frames survive the full pivot∘unpivot path."""
    rows = [(0, "a", 1.0)][:n]
    long = _df(spark, rows)
    wide = pivot_first(long, ["k"], "tag", "v", TAGS)
    assert wide.count() == n


# ---- r4 surface properties -------------------------------------------------

words_strategy = st.lists(
    st.lists(st.sampled_from([f"w{i}" for i in range(12)]),
             min_size=0, max_size=25),
    min_size=1, max_size=6,
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=words_strategy)
def test_simhash_neardup_pairs_symmetric_and_verified(spark, docs, tmp_path_factory):
    """For ANY token corpus: every reported pair is ordered (d1 < d2),
    within the hamming bound, and hamming(a,b) is consistent with the
    emitted fingerprints."""
    from sec_xbrl_finwarehouse_spark.plans import text_queries as tq

    tmp = tmp_path_factory.mktemp("sh")
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        "doc_id long, text string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp / "documents.parquet"))
    sigs = {r["doc_id"]: r["simhash"]
            for r in tq.q_doc_simhash(spark, str(tmp)).collect()}
    for r in tq.q_doc_simhash_neardup(spark, str(tmp)).collect():
        assert r["d1"] < r["d2"]
        assert r["hamming"] <= tq.SIMHASH_HAM_MAX
        assert bin(sigs[r["d1"]] ^ sigs[r["d2"]]).count("1") == r["hamming"]


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=words_strategy)
def test_stratified_sample_is_subset_with_full_rank_cover(spark, docs,
                                                          tmp_path_factory):
    """For ANY documents table: the sample is a subset, ranks within each
    language are exactly 1..min(K, stratum size), and rerunning yields
    the identical draw."""
    from sec_xbrl_finwarehouse_spark.plans import text_queries as tq

    tmp = tmp_path_factory.mktemp("ss")
    rows = [(i, " ".join(ws), ["en", "fr"][i % 2], "s", len(ws))
            for i, ws in enumerate(docs)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp / "documents.parquet"))

    got = tq.q_doc_stratified_sample(spark, str(tmp)).collect()
    again = tq.q_doc_stratified_sample(spark, str(tmp)).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))
    by_lang = {}
    for r in got:
        by_lang.setdefault(r["lang"], []).append(r["draw_rank"])
    strata = {}
    for _, _, lang, _, _ in rows:
        strata[lang] = strata.get(lang, 0) + 1
    for lang, ranks in by_lang.items():
        expect = min(tq.STRATA_SAMPLE_K, strata[lang])
        assert sorted(ranks) == list(range(1, expect + 1))


texts_strategy = st.lists(
    st.text(alphabet="ab @.-123xyz", max_size=30), max_size=8
)


@given(texts=texts_strategy)
@_SETTINGS
def test_repetition_fractions_bounded(spark, texts):
    """Repetition metrics are total functions into sane ranges for ANY
    text (empty, whitespace, punctuation soup): totals >= 0, fractions
    in [0, 1], dup_frac == 0 whenever every n-gram is unique, and
    top_frac >= 1/total when any n-gram exists."""
    from sec_xbrl_finwarehouse_spark.plans.corpus_queries import repetition_of

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = repetition_of(df).collect()
    assert len(out) == len(texts)
    for r in out:
        for n in (2, 3):
            total = r[f"n{n}_total"]
            dup = r[f"n{n}_dup_frac"]
            top = r[f"n{n}_top_frac"]
            assert total >= 0
            assert 0.0 <= dup <= 1.0 and 0.0 <= top <= 1.0
            if total > 0:
                assert top >= 1.0 / total - 1e-12
            else:
                assert dup == 0.0 and top == 0.0


@given(texts=texts_strategy)
@_SETTINGS
def test_pii_scan_total_and_consistent(spark, texts):
    """PII scan never errors on arbitrary text; has_pii is exactly
    (sum of counts > 0); counts are non-negative."""
    from sec_xbrl_finwarehouse_spark.plans.corpus_queries import pii_scan_of

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    for r in pii_scan_of(df).collect():
        counts = (r["n_emails"], r["n_ipv4"], r["n_phones"])
        assert all(c >= 0 for c in counts)
        assert r["has_pii"] == (sum(counts) > 0)


# ---- span dedup vs a pure-Python reference ---------------------------------

# docs built from a small PHRASE POOL so duplicated >=k-token spans
# actually occur across generated documents (pure random tokens almost
# never collide at span length)
_PHRASES = [tuple(f"p{i}{j}" for j in range(4)) for i in range(3)]
_SINGLES = [f"w{i}" for i in range(8)]

phrase_docs_strategy = st.lists(
    st.lists(
        st.one_of(
            st.sampled_from(_PHRASES),
            st.tuples(st.sampled_from(_SINGLES)),
        ),
        min_size=0, max_size=6,
    ),
    min_size=1, max_size=5,
)


def _ref_span_dedup(docs: dict, k: int) -> dict:
    """Pure-Python oracle for q_doc_span_dedup's contract: every
    duplicated >=k-token span keeps its first (doc_id, start)
    occurrence; all positions covered by a later occurrence are
    excised; docs reassembled from surviving tokens."""
    occ: dict = {}
    for d in sorted(docs):
        toks = docs[d]
        for i in range(len(toks) - k + 1):
            occ.setdefault(tuple(toks[i:i + k]), []).append((d, i))
    bad: dict = {d: set() for d in docs}
    for lst in occ.values():
        for d, i in sorted(lst)[1:]:
            bad[d].add(i)
    out = {}
    for d, toks in docs.items():
        keep = [t for p, t in enumerate(toks)
                if not any(s <= p < s + k for s in bad[d])]
        out[d] = (" ".join(keep), len(toks), len(toks) - len(keep))
    return out


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=phrase_docs_strategy)
def test_span_dedup_matches_reference(spark, docs, tmp_path_factory,
                                      monkeypatch):
    """For ANY phrase-pool corpus, the distributed span dedup equals the
    sequential reference implementation exactly (text, counts) --
    including empty docs, docs shorter than the span, within-doc
    repeats, and cross-doc boilerplate."""
    from sec_xbrl_finwarehouse_spark.plans import text_queries as tq

    monkeypatch.setattr(tq, "SPAN_K", 3)
    flat = {i: [t for chunk in d for t in chunk] for i, d in enumerate(docs)}
    tmp = tmp_path_factory.mktemp("span")
    spark.createDataFrame(
        [(i, " ".join(ts)) for i, ts in flat.items()],
        "doc_id long, text string",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp / "documents.parquet"))
    want = _ref_span_dedup(flat, 3)
    got = {
        r["doc_id"]: (r["text_dedup"], r["n_tokens"], r["n_removed"])
        for r in tq.q_doc_span_dedup(spark, str(tmp)).collect()
    }
    assert got == want


def _ref_chunks(toks: list, w: int, s: int) -> list:
    """Pure-Python oracle for q_doc_chunk: stride-s windows of w tokens,
    trailing fully-contained windows dropped."""
    n = len(toks)
    if n == 0:
        return []
    last = max(0, n - (w - s) - 1)
    return [
        (start // s, min(w, n - start), " ".join(toks[start:start + w]))
        for start in range(0, last + 1, s)
    ]


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=phrase_docs_strategy)
def test_chunk_matches_reference(spark, docs, tmp_path_factory, monkeypatch):
    """For ANY corpus: chunk boundaries, counts, and the
    contained-trailing-window drop match the sequential reference."""
    from sec_xbrl_finwarehouse_spark.plans import text_queries as tq

    monkeypatch.setattr(tq, "CHUNK_TOKENS", 5)
    monkeypatch.setattr(tq, "CHUNK_STRIDE", 3)
    flat = {i: [t for chunk in d for t in chunk] for i, d in enumerate(docs)}
    tmp = tmp_path_factory.mktemp("chunk")
    spark.createDataFrame(
        [(i, " ".join(ts)) for i, ts in flat.items()],
        "doc_id long, text string",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp / "documents.parquet"))
    want = {
        (d, idx): (ln, txt)
        for d, ts in flat.items()
        for idx, ln, txt in _ref_chunks(ts, 5, 3)
    }
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["n_chunk_tokens"], r["chunk_text"])
        for r in tq.q_doc_chunk(spark, str(tmp)).collect()
    }
    assert got == want


# ---- duplicated-n-gram fraction vs a pure-Python reference -----------------


def _ref_dup_ngram(docs: dict, n: int, min_df: int) -> dict:
    """Pure-Python oracle for q_doc_dup_ngram_frac's contract: per doc,
    count n-gram occurrences and how many of them have corpus document
    frequency >= min_df (distinct docs containing the n-gram)."""
    from collections import Counter

    grams = {
        d: [tuple(t[i:i + n]) for i in range(len(t) - n + 1)]
        for d, t in docs.items()
    }
    df = Counter()
    for gs in grams.values():
        for g in set(gs):
            df[g] += 1
    out = {}
    for d, gs in grams.items():
        n_dup = sum(1 for g in gs if df[g] >= min_df)
        out[d] = (len(gs), n_dup)
    return out


@_SETTINGS
@given(docs=phrase_docs_strategy)
def test_dup_ngram_frac_matches_reference(spark, docs, tmp_path_factory,
                                          monkeypatch):
    """For ANY phrase-pool corpus, the distributed duplicated-n-gram
    fraction equals the sequential reference exactly — including empty
    docs, docs shorter than n (NULL fraction), within-doc repeats
    (occurrences counted, df deduped per doc), and cross-doc
    boilerplate."""
    from sec_xbrl_finwarehouse_spark.plans import corpus_queries as cq

    monkeypatch.setattr(cq, "DUP_NGRAM_N", 3)
    flat = {i: [t for chunk in d for t in chunk] for i, d in enumerate(docs)}
    tmp = tmp_path_factory.mktemp("dupngram")
    spark.createDataFrame(
        [(i, " ".join(ts)) for i, ts in flat.items()],
        "doc_id long, text string",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp / "documents.parquet")
    )
    want = _ref_dup_ngram(flat, 3, cq.DUP_NGRAM_MIN_DF)
    got = {
        r["doc_id"]: r
        for r in cq.q_doc_dup_ngram_frac(spark, str(tmp)).collect()
    }
    assert set(got) == set(want)
    for d, (n_g, n_dup) in want.items():
        r = got[d]
        assert (r["n_ngrams"], r["n_dup"]) == (n_g, n_dup), (d, r)
        if n_g == 0:
            assert r["dup_frac"] is None
        else:
            assert abs(r["dup_frac"] - n_dup / n_g) < 1e-6
