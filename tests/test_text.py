"""Unit tests for the text/dedup pack (plans/text_queries.py): shingle
edge cases, SimHash locality (near-dup pairs land at small hamming
distance; unrelated docs far), and language-ID marker/CJK routing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sec_xbrl_finwarehouse_spark.plans.text_queries import (
    SHINGLE_K,
    _shingles,
    _tokens,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_shingles_short_doc_empty(spark):
    # fewer than k tokens -> empty shingle array, not null / error
    df = _docs(spark, ["one two", "a b c", ""])
    out = df.select(
        "doc_id", F.size(_shingles(_tokens(F.col("text")))).alias("n")
    ).collect()
    got = {r["doc_id"]: r["n"] for r in out}
    assert got == {0: 0, 1: 1, 2: 0}


def test_shingles_are_distinct_and_ordered_windows(spark):
    df = _docs(spark, ["x y x y x y"])  # windows: "x y x","y x y" repeated
    out = df.select(_shingles(_tokens(F.col("text"))).alias("s")).first()["s"]
    assert sorted(out) == ["x y x", "y x y"]
    assert SHINGLE_K == 3


def _simhash_of(spark, texts):
    from sec_xbrl_finwarehouse_spark.plans import text_queries as tq

    df = _docs(spark, texts)
    toks = df.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
    fp = tq._simhash_from_tokens(toks)
    return {r["doc_id"]: r["simhash"] for r in fp.collect()}


def _hamming(a: int, b: int) -> int:
    return bin(a ^ b).count("1")


def test_simhash_locality(spark):
    base = " ".join(f"tok{i}" for i in range(60))
    near = " ".join(f"tok{i}" for i in range(58)) + " other words"
    far = " ".join(f"zzz{i}" for i in range(60))
    fp = _simhash_of(spark, [base, near, far])
    d_near = _hamming(fp[0], fp[1])
    d_far = _hamming(fp[0], fp[2])
    assert d_near < d_far
    assert d_near <= 12  # ~97% token overlap -> small hamming ball
    assert d_far >= 16   # disjoint vocab -> ~32 expected


def test_lang_id_markers_and_cjk(spark):
    from sec_xbrl_finwarehouse_spark.plans import text_queries as tq

    df = _docs(spark, [
        "the cat is on a mat of wool and string",
        "le chat et la souris et les fromages des alpes",
        "der hund und die katze und das nicht war",
        "el gato y los perros y las casas una vez",
        "spark 中文文档 data",
        "zzz qqq www",
    ])
    df.createOrReplaceTempView("_lang_docs")
    toks = _tokens(F.col("text"))

    def vote(markers):
        return F.size(F.filter(toks, lambda t: t.isin(markers)))

    votes = {k: vote(v) for k, v in tq.LANG_MARKERS.items()}
    cjk = F.length(F.regexp_replace("text", "[^\\u4e00-\\u9fff]", ""))
    best = F.greatest(*votes.values())
    pred = (
        F.when(cjk > 0, F.lit("zh"))
        .when(best == 0, F.lit("und"))
        .when(votes["en"] == best, F.lit("en"))
        .when(votes["fr"] == best, F.lit("fr"))
        .when(votes["de"] == best, F.lit("de"))
        .otherwise(F.lit("es"))
    )
    got = {r["doc_id"]: r["p"] for r in df.select("doc_id", pred.alias("p")).collect()}
    assert got == {0: "en", 1: "fr", 2: "de", 3: "es", 4: "zh", 5: "und"}


def test_minhash_lsh_recall_on_planted_neardups(spark, tmp_path):
    """Planted J >= 0.5 pairs must be found by the LSH path (miss prob
    ~1e-8 at the configured bands), and nothing below threshold."""
    import shutil

    from sec_xbrl_finwarehouse_spark.plans import text_queries as tq

    base = [f"w{i}" for i in range(40)]
    texts = {
        0: " ".join(base),
        1: " ".join(base[:36] + ["x1", "x2", "x3", "x4"]),  # high overlap
        2: " ".join(f"q{i}" for i in range(40)),            # unrelated
    }
    sf = tmp_path / "sf"
    sf.mkdir()
    _docs(spark, [texts[i] for i in sorted(texts)]).coalesce(1).write.parquet(
        str(sf / "documents.parquet")
    )
    out = tq.q_doc_minhash_lsh_dedup(spark, str(sf)).collect()
    pairs = {(r["d1"], r["d2"]) for r in out}
    assert (0, 1) in pairs
    assert all(2 not in p for p in pairs)
    exact = tq.q_doc_jaccard_pairs(spark, str(sf)).collect()
    assert {(r["d1"], r["d2"]) for r in exact} == pairs
    shutil.rmtree(sf, ignore_errors=True)


def _seeded_dedup_corpus(seed):
    """Random docs plus planted near-copies at a spread of overlaps
    (some above the Jaccard threshold, some below), identical copies
    (one differing only in case and spacing), docs under 3 tokens, and
    NULL, empty and blank text."""
    import random

    rng = random.Random(seed)
    vocab = [f"v{i}" for i in range(300)]
    docs = [[rng.choice(vocab) for _ in range(rng.randint(20, 50))]
            for _ in range(24)]
    texts = [" ".join(d) for d in docs]
    for d in rng.sample(docs, 12):
        copy = list(d)
        for i in rng.sample(range(len(copy)), rng.randint(1, len(copy) // 6)):
            copy[i] = rng.choice(vocab)
        texts.append(" ".join(copy))
    texts += [texts[0], "  " + texts[1].upper().replace(" ", "   ")]
    texts += ["one two", "solo", "one two", None, "", "   "]
    rng.shuffle(texts)
    return texts


def test_minhash_lsh_matches_exhaustive_pairs(spark, tmp_path):
    """The LSH path (banded candidates verified on shingle arrays)
    returns exactly the exhaustive shingle-join pairs, Jaccard doubles
    included, on seeded corpora with planted near-copies, identical
    docs, short docs and NULL/empty text."""
    from sec_xbrl_finwarehouse_spark.plans import text_queries as tq

    for seed in (1, 2):
        sf = tmp_path / f"sf{seed}"
        sf.mkdir()
        _docs(spark, _seeded_dedup_corpus(seed)).coalesce(1).write.parquet(
            str(sf / "documents.parquet")
        )
        lsh = sorted(tuple(r) for r in
                     tq.q_doc_minhash_lsh_dedup(spark, str(sf)).collect())
        exact = sorted(tuple(r) for r in
                       tq.q_doc_jaccard_pairs(spark, str(sf)).collect())
        assert lsh == exact
        assert len(exact) >= 5 and any(j == 1.0 for _, _, j in exact)
        spark.catalog.clearCache()


def _reference_bands(ex):
    """The 128-aggregate spelling of :func:`minhash_bands_of` that the
    generator-fed plan replaced: one GROUP BY doc_id with a min() per
    hash, then one struct per band. Kept as the reference the band
    keys must reproduce row for row."""
    from sec_xbrl_finwarehouse_spark.plans import text_queries as tq

    p, r = tq.MINHASH_PRIME, tq.MINHASH_BAND_ROWS
    mins = ", ".join(
        f"min(({a}L * sh + {b}L) % {p}L) AS h{i}"
        for i, (a, b) in enumerate(tq.MINHASH_COEFFS)
    )
    bands = ", ".join(
        "struct({b} AS band, xxhash64({cols}) AS bh)".format(
            b=b, cols=", ".join(f"h{b * r + k}" for k in range(r)))
        for b in range(tq.MINHASH_HASHES // r)
    )
    return ex.sparkSession.sql(
        f"""
        WITH hashed AS (
          SELECT doc_id, pmod(xxhash64(shingle), {p}) AS sh FROM {{ex}}
        ),
        sig AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id)
        SELECT doc_id, bk.band AS band, bk.bh AS bh
        FROM sig LATERAL VIEW explode(array({bands})) AS bk
        """,
        ex=ex,
    )


def test_minhash_bands_match_the_128_aggregate_reference(spark):
    """minhash_bands_of returns exactly the (doc_id, band, bh) rows of
    the 128-aggregate reference, with the same schema, on seeded
    corpora with planted near-copies, identical docs, docs under 3
    tokens and NULL, empty and blank text."""
    from sec_xbrl_finwarehouse_spark.plans import text_queries as tq

    for seed in (1, 2):
        toks = _docs(spark, _seeded_dedup_corpus(seed)).select(
            "doc_id", _tokens(F.col("text")).alias("toks")
        )
        ex = toks.select(
            "doc_id", F.explode(_shingles(F.col("toks"))).alias("shingle")
        )
        got, want = tq.minhash_bands_of(ex), _reference_bands(ex)
        assert got.schema == want.schema
        want_rows = sorted(tuple(r) for r in want.collect())
        assert sorted(tuple(r) for r in got.collect()) == want_rows
        n_docs = ex.select("doc_id").distinct().count()
        n_bands = tq.MINHASH_HASHES // tq.MINHASH_BAND_ROWS
        assert len(want_rows) == n_docs * n_bands and n_docs >= 30


def test_dedup_clusters_transitive_chain(spark, tmp_path):
    """A~B and B~C (but A!~C directly) must land in ONE cluster with the
    min doc_id as rep; unrelated docs keep themselves."""
    import shutil

    from sec_xbrl_finwarehouse_spark.plans import text_queries as tq

    base = [f"w{i}" for i in range(40)]
    texts = [
        " ".join(base),                                      # 0: A
        " ".join(base[12:] + [f"x{i}" for i in range(12)]),  # 1: B ~ A (J~0.54)
        " ".join(base[24:] + [f"x{i}" for i in range(12)]
                 + [f"y{i}" for i in range(12)]),            # 2: C ~ B, not ~A
        " ".join(f"q{i}" for i in range(40)),                # 3: unrelated
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    _docs(spark, texts).coalesce(1).write.parquet(str(sf / "documents.parquet"))
    # sanity: the pair graph is exactly the chain {(0,1), (1,2)}
    got_pairs = {(r["d1"], r["d2"])
                 for r in tq.q_doc_jaccard_pairs(spark, str(sf)).collect()}
    assert got_pairs == {(0, 1), (1, 2)}
    out = {r["doc_id"]: (r["cluster_rep"], r["keep"])
           for r in tq.q_doc_dedup_clusters(spark, str(sf)).collect()}
    assert out == {0: (0, True), 1: (0, False), 2: (0, False), 3: (3, True)}
    shutil.rmtree(sf, ignore_errors=True)


def test_exact_dedup_null_text_matches_oracle(spark, tmp_path):
    """Documents with NULL text form ONE dedup group (SQL GROUP BY groups
    NULLs together); the hash-keyed plan must emit that group, not drop
    it. Regression: min/max over an all-NULL group are NULL, so a bare
    mn == mx collision check evaluates to NULL and the group fell into
    NEITHER branch."""
    import shutil

    import duckdb

    from sec_xbrl_finwarehouse_spark.plans import text_queries as tq

    rows = [(0, "alpha beta"), (1, None), (2, "  Alpha Beta "),
            (3, None), (4, "gamma"), (5, None)]
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1) \
        .write.parquet(str(sf / "documents.parquet"))
    got = sorted(
        (r["keep_doc_id"], r["n_copies"])
        for r in tq.q_doc_exact_dedup(spark, str(sf)).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    want = sorted(map(tuple, con.execute(tq.DOC_EXACT_DEDUP_SQL).fetchall()))
    assert got == want == [(0, 2), (1, 3), (4, 1)]
    shutil.rmtree(sf, ignore_errors=True)


def test_simhash_neardup_planted(spark, tmp_path):
    """A one-token edit of a 60-token doc lands within hamming 3 of the
    original (near-identical token multiset); an unrelated doc never
    pairs. Banding is lossless at ham<=3 (pigeonhole over 4 bands)."""
    import shutil

    from sec_xbrl_finwarehouse_spark.plans import text_queries as tq

    base = [f"tok{i}" for i in range(60)]
    edited = base[:59] + ["changed"]
    texts = [" ".join(base), " ".join(edited),
             " ".join(f"zz{i}" for i in range(60))]
    sf = tmp_path / "sf"
    sf.mkdir()
    _docs(spark, texts).coalesce(1).write.parquet(str(sf / "documents.parquet"))

    rows = tq.q_doc_simhash_neardup(spark, str(sf)).collect()
    pairs = {(r["d1"], r["d2"]): r["hamming"] for r in rows}
    assert (0, 1) in pairs and pairs[(0, 1)] <= tq.SIMHASH_HAM_MAX
    assert all(2 not in p for p in pairs)
    shutil.rmtree(sf, ignore_errors=True)


def test_stratified_sample_quota_and_determinism(spark, tmp_path):
    """Per-language quota respected; draw is identical across reruns and
    independent of input partitioning (md5 rank, not sample())."""
    import shutil

    from sec_xbrl_finwarehouse_spark.plans import text_queries as tq

    rows = [(i, f"text {i}", ["en", "fr", "de"][i % 3], "web", 10 + i)
            for i in range(120)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    sf = tmp_path / "sf"
    sf.mkdir()
    df.coalesce(1).write.parquet(str(sf / "documents.parquet"))

    got1 = sorted((r["lang"], r["doc_id"], r["draw_rank"])
                  for r in tq.q_doc_stratified_sample(spark, str(sf)).collect())
    got2 = sorted((r["lang"], r["doc_id"], r["draw_rank"])
                  for r in tq.q_doc_stratified_sample(spark, str(sf)).collect())
    assert got1 == got2
    per_lang = {}
    for lang, _, rank in got1:
        per_lang.setdefault(lang, []).append(rank)
    for lang, ranks in per_lang.items():
        assert sorted(ranks) == list(range(1, tq.STRATA_SAMPLE_K + 1))
    shutil.rmtree(sf, ignore_errors=True)


def test_keep_best_prefers_longest_in_cluster(spark, tmp_path):
    """Within a near-dup cluster the LONGEST doc is kept, not the min-id
    one; singletons always keep themselves."""
    import shutil

    from sec_xbrl_finwarehouse_spark.plans import text_queries as tq

    base = [f"w{i}" for i in range(40)]
    texts = [
        " ".join(base),                                   # doc 0: 40 tokens
        " ".join(base + ["extra1", "extra2"]),            # doc 1: 42 tokens, near-dup of 0
        " ".join(f"q{i}" for i in range(30)),             # doc 2: unrelated singleton
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    _docs(spark, texts).coalesce(1).write.parquet(str(sf / "documents.parquet"))

    got = {r["doc_id"]: (r["cluster_rep"], r["keep"])
           for r in tq.q_doc_dedup_keep_best(spark, str(sf)).collect()}
    assert got[0] == (0, False)   # shorter member dropped despite min id
    assert got[1] == (0, True)    # longest member kept
    assert got[2] == (2, True)    # singleton keeps itself
    shutil.rmtree(sf, ignore_errors=True)


def test_keep_best_persists_at_most_two_frames(spark, tmp_path):
    """One keep-best collect leaves at most two RDDs persisted (the
    shingle arrays and the band table of the pair pipeline): it takes
    n_tokens from the documents scan and persists no quality frame."""
    from sec_xbrl_finwarehouse_spark.plans import text_queries as tq

    base = [f"w{i}" for i in range(40)]
    texts = [" ".join(base), " ".join(base + ["x1", "x2"]),
             " ".join(f"q{i}" for i in range(30))]
    sf = tmp_path / "sf"
    sf.mkdir()
    _docs(spark, texts).coalesce(1).write.parquet(str(sf / "documents.parquet"))

    spark.catalog.clearCache()
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    rows = tq.q_doc_dedup_keep_best(spark, str(sf)).collect()
    added = persisted().size() - before
    spark.catalog.clearCache()
    assert len(rows) == 3
    assert added <= 2


def test_documents_scan_starts_no_job(spark):
    """Building the documents scan runs no Spark job (its schema is
    declared, not inferred from the parquet footers), and it reads the
    same rows as a plain parquet read."""
    from sec_xbrl_finwarehouse_spark.plans import text_queries as tq

    sf = "/root/testdata/sf0.001"
    sc = spark.sparkContext
    drain = sc._jsc.sc().listenerBus().waitUntilEmpty
    group = "documents-scan"
    drain()
    sc.setJobGroup(group, "build the documents scan")
    try:
        docs = tq._documents(spark, sf)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    drain()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    plain = spark.read.parquet(f"{sf}/documents.parquet")
    assert docs.columns == plain.columns
    assert sorted(map(tuple, docs.collect())) == sorted(map(tuple, plain.collect()))


def test_corpus_build_selection_conjunction(spark, tmp_path):
    """selected = quality_keep AND dedup_keep: a high-quality near-dup
    that loses keep-best is excluded; a low-quality singleton is
    excluded; the kept cluster member with good quality is selected."""
    import shutil

    from sec_xbrl_finwarehouse_spark.plans import text_queries as tq

    base = ["the", "a", "of", "is", "and"] * 4 + [f"w{i}" for i in range(30)]
    texts = [
        " ".join(base),                        # doc 0: near-dup loser (shorter)
        " ".join(base + ["ex1", "ex2"]),       # doc 1: near-dup winner
        "short",                               # doc 2: fails quality (<10 tokens)
        " ".join(["the", "cat", "sat"] * 10),  # doc 3: quality singleton
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    _docs(spark, texts).coalesce(1).write.parquet(str(sf / "documents.parquet"))

    got = {r["doc_id"]: r["selected"]
           for r in tq.q_doc_corpus_build(spark, str(sf)).collect()}
    assert got == {0: False, 1: True, 2: False, 3: True}
    shutil.rmtree(sf, ignore_errors=True)


@pytest.mark.parametrize("query", ["q_doc_dedup_keep_best",
                                   "q_doc_corpus_build"])
def test_side_thread_jobs_stay_in_callers_job_group(spark, tmp_path, query):
    """Every job the call starts, corpus-build's side-thread quality
    pass included, lands in the caller's job group, so per-group
    accounting and cancelJobGroup see all of it."""
    from sec_xbrl_finwarehouse_spark.plans import text_queries as tq

    base = [f"w{i}" for i in range(40)]
    texts = [" ".join(base), " ".join(base + ["x1", "x2"]),
             " ".join(f"q{i}" for i in range(30))]
    sf = tmp_path / "sf"
    sf.mkdir()
    _docs(spark, texts).coalesce(1).write.parquet(str(sf / "documents.parquet"))

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    drain = sc._jsc.sc().listenerBus().waitUntilEmpty
    group = f"side-thread-{query}"
    drain()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, query)
    try:
        getattr(tq, query)(spark, str(sf)).collect()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    drain()
    assert tracker.getJobIdsForGroup(group)
    # only new ids count: the status store evicts the oldest jobs
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped_before == set()


def test_decontaminate_flags_cross_split_overlap(spark, tmp_path):
    """A train doc sharing a 3-gram with a test doc is contaminated;
    train docs with no test overlap are clean. Split membership comes
    from the deterministic md5 rule, so the test discovers it first."""
    import shutil

    from sec_xbrl_finwarehouse_spark.plans import text_queries as tq

    # find doc_ids landing in each split under the md5 rule
    import hashlib

    def split_of(i):
        return "train" if hashlib.md5(str(i).encode()).hexdigest()[0] in tq.TRAIN_HEX else "test"

    train_ids = [i for i in range(40) if split_of(i) == "train"]
    test_ids = [i for i in range(40) if split_of(i) == "test"]
    assert train_ids and test_ids

    shared = "alpha beta gamma"
    texts = {}
    texts[test_ids[0]] = f"{shared} " + " ".join(f"t{i}" for i in range(10))
    texts[train_ids[0]] = f"{shared} " + " ".join(f"u{i}" for i in range(10))  # contaminated
    texts[train_ids[1]] = " ".join(f"v{i}" for i in range(13))                 # clean
    rows = [(i, texts[i]) for i in sorted(texts)]
    sf = tmp_path / "sf"
    sf.mkdir()
    _docs_ids(spark, rows).coalesce(1).write.parquet(str(sf / "documents.parquet"))

    got = {r["doc_id"]: r["contaminated"]
           for r in tq.q_doc_decontaminate(spark, str(sf)).collect()}
    assert got[train_ids[0]] is True
    assert got[train_ids[1]] is False
    assert test_ids[0] not in got  # only train docs are reported


def _docs_ids(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_seq_packing_invariants(spark, tmp_path):
    """Packs fill in doc_id order per shard: pack_id is non-decreasing,
    a pack's preceding-token start is below the window boundary, and
    every doc lands in the shard doc_id % PACK_SHARDS."""
    import shutil

    from sec_xbrl_finwarehouse_spark.plans import text_queries as tq

    rows = [(i, " ".join(f"w{j}" for j in range(100 + 37 * (i % 9))))
            for i in range(50)]
    sf = tmp_path / "sf"
    sf.mkdir()
    _docs_ids(spark, rows).coalesce(1).write.parquet(str(sf / "documents.parquet"))

    out = sorted(tq.q_doc_seq_packing(spark, str(sf)).collect(),
                 key=lambda r: (r["shard"], r["doc_id"]))
    per_shard = {}
    for r in out:
        assert r["shard"] == r["doc_id"] % tq.PACK_SHARDS
        start = r["cum_tokens"] - r["n_tokens"]
        assert r["pack_id"] == start // tq.PACK_WINDOW
        prev = per_shard.get(r["shard"])
        if prev is not None:
            assert r["pack_id"] >= prev["pack_id"]
            assert r["cum_tokens"] == prev["cum_tokens"] + r["n_tokens"]
        per_shard[r["shard"]] = r


def test_containment_catches_subset_jaccard_misses(spark, tmp_path):
    """A short doc fully contained in a long one must surface with
    containment 1.0 even though its Jaccard is far below the near-dup
    threshold; unrelated docs must not pair."""
    import shutil

    from sec_xbrl_finwarehouse_spark.plans.text_queries import (
        q_doc_containment_pairs,
    )

    short = " ".join(f"w{i}" for i in range(10))
    long_ = " ".join(f"w{i}" for i in range(60))   # contains all of short
    other = " ".join(f"z{i}" for i in range(30))
    sf = tmp_path / "sf"
    sf.mkdir()
    _docs(spark, [short, long_, other]).coalesce(1).write.parquet(
        str(sf / "documents.parquet")
    )
    out = q_doc_containment_pairs(spark, str(sf)).collect()
    pairs = {(r["d1"], r["d2"]): r for r in out}
    assert (0, 1) in pairs
    r = pairs[(0, 1)]
    assert r["containment_1_in_2"] == 1.0
    assert r["jaccard"] < 0.5  # the MinHash/Jaccard path would miss it
    assert all(2 not in p for p in pairs)
    shutil.rmtree(sf, ignore_errors=True)


def test_ngram_novelty_first_doc_wins_and_short_doc_null(spark, tmp_path):
    """Doc 0 introduces its shingles (novelty 1.0); an identical later
    doc has novelty 0.0; a short doc has no shingles and NULL novelty."""
    import shutil

    from sec_xbrl_finwarehouse_spark.plans.text_queries import (
        q_doc_ngram_novelty,
    )

    base = " ".join(f"w{i}" for i in range(20))
    sf = tmp_path / "sf"
    sf.mkdir()
    _docs(spark, [base, base, "too short"]).coalesce(1).write.parquet(
        str(sf / "documents.parquet")
    )
    got = {r["doc_id"]: r for r in q_doc_ngram_novelty(spark, str(sf)).collect()}
    assert got[0]["novelty"] == 1.0
    assert got[1]["novelty"] == 0.0 and got[1]["n_shingles"] == 18
    assert got[2]["n_shingles"] == 0 and got[2]["novelty"] is None


def test_doc_chunk_plan_is_exchange_free(spark):
    """Chunking must stay one map-side pass: tokenize + sequence +
    explode + slice require NO shuffle of their own. The only Exchange
    allowed is _documents' local-layout parallelize_scan repartition
    (REPARTITION_BY_NUM -- a no-op on a real multi-file corpus); an
    ENSURE_REQUIREMENTS exchange would mean the operator itself
    demanded a distribution."""
    from sec_xbrl_finwarehouse_spark.plans.text_queries import q_doc_chunk

    plan = q_doc_chunk(spark, "/root/testdata/sf0.001")\
        ._jdf.queryExecution().executedPlan().toString()
    assert "ENSURE_REQUIREMENTS" not in plan, plan
    assert plan.count("Exchange") <= 1, plan


def test_doc_chunk_windows_and_overlap(spark, tmp_path):
    """Chunk arithmetic at W=64/S=48: a 100-token doc yields starts
    0/48 (start 96 would be a strict suffix of chunk 1 — dropped);
    consecutive chunks share W-S tokens; a 65-token doc yields a
    second chunk carrying its one uncovered token; docs at or under W
    (or under W-S) yield exactly one chunk; an empty doc yields
    nothing; every token of every doc is covered."""
    from sec_xbrl_finwarehouse_spark.plans import text_queries as tq

    sf = tmp_path / "sf"
    sf.mkdir()

    def words(n):
        return " ".join(f"w{i}" for i in range(n))

    spark.createDataFrame(
        [(1, words(100), "a", 0), (2, "", "a", 0), (3, words(65), "a", 0),
         (4, words(64), "a", 0), (5, words(10), "a", 0)],
        "doc_id long, text string, source string, n_chars int",
    ).write.parquet(str(sf / "documents.parquet"))
    out = tq.q_doc_chunk(spark, str(sf)).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], {})[r["chunk_idx"]] = r

    d1 = by_doc[1]
    assert sorted(d1) == [0, 1]  # start 96 dropped: contained in chunk 1
    assert [d1[i]["n_chunk_tokens"] for i in (0, 1)] == [64, 52]
    c0, c1 = d1[0]["chunk_text"].split(" "), d1[1]["chunk_text"].split(" ")
    assert c0[48:] == c1[:16]  # W-S = 16-token overlap
    assert c1[0] == "w48" and c1[-1] == "w99"  # full coverage to the end

    assert 2 not in by_doc  # empty doc: no chunks
    assert sorted(by_doc[3]) == [0, 1]  # token w64 needs a second chunk
    assert by_doc[3][1]["n_chunk_tokens"] == 17
    assert by_doc[3][1]["chunk_text"].split(" ")[-1] == "w64"
    assert sorted(by_doc[4]) == [0] and by_doc[4][0]["n_chunk_tokens"] == 64
    assert sorted(by_doc[5]) == [0] and by_doc[5][0]["n_chunk_tokens"] == 10


def test_doc_span_dedup_excises_later_occurrences(spark, tmp_path):
    """A duplicated >=K-token span keeps its first occurrence (min
    (doc_id, start)) and is excised everywhere else — including a
    repeat WITHIN one document; docs shorter than K are untouched."""
    from sec_xbrl_finwarehouse_spark.plans import text_queries as tq

    sf = tmp_path / "sf"
    sf.mkdir()
    span = " ".join(f"s{i}" for i in range(tq.SPAN_K))
    uniq1 = " ".join(f"a{i}" for i in range(tq.SPAN_K))
    uniq2 = " ".join(f"b{i}" for i in range(tq.SPAN_K))
    spark.createDataFrame(
        [
            (1, f"{uniq1} {span}", "a", 0),          # winner copy
            (2, f"{uniq2} {span}", "a", 0),          # later copy: excised
            (3, f"{span} {span}", "a", 0),           # internal repeat
            (4, "tiny doc", "a", 0),                 # n < K: untouched
        ],
        "doc_id long, text string, source string, n_chars int",
    ).write.parquet(str(sf / "documents.parquet"))
    out = {r["doc_id"]: r for r in tq.q_doc_span_dedup(spark, str(sf)).collect()}
    assert out[1]["text_dedup"] == f"{uniq1} {span}"  # winner intact
    assert out[1]["n_removed"] == 0
    assert out[2]["text_dedup"] == uniq2              # span excised
    assert out[2]["n_removed"] == tq.SPAN_K
    # doc 3: its first span occurrence lost to doc 1's (earlier doc_id),
    # and the overlapping shingles of the doubled span are all
    # duplicated -> the whole doc is excised
    assert out[3]["text_dedup"] == "" and out[3]["n_removed"] == 2 * tq.SPAN_K
    assert out[4]["text_dedup"] == "tiny doc" and out[4]["n_removed"] == 0


def test_quality_gopher_rules(spark, tmp_path):
    """The r8 Gopher columns flag what the base rules miss: hash-spam,
    bullet-list pages, ellipsis-heavy teasers, and long-token salad all
    pass `keep` (enough tokens, stopwords present, mostly alpha) but
    fail `gopher_keep` on their specific rule."""
    from sec_xbrl_finwarehouse_spark.plans.text_queries import q_doc_quality

    base = "the cat sat on the mat and then the dog sat too"
    rows = [
        (0, base, "en", "s", 1),                                 # clean prose
        (1, base + " " + "#" * 30, "en", "s", 1),                # hash spam
        (2, "\n".join(["- the item ok"] * 10), "en", "s", 1),    # bullet list
        (3, "\n".join([f"the news today {i}..." for i in range(10)]),
         "en", "s", 1),                                          # ellipsis bait
        (4, "the " + " ".join(["incomprehensibilities"] * 12), "en", "s", 1),
        (5, "", "en", "s", 1),                                   # empty
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    got = {r["doc_id"]: r for r in q_doc_quality(spark, str(tmp_path)).collect()}
    assert got[0]["keep"] and got[0]["gopher_keep"]
    assert 3.0 <= got[0]["mean_word_len"] <= 10.0
    # hash spam: keep passes (nonalpha counts '#' though... it fails
    # nonalpha only past 30%), symbol_ratio must trip regardless
    assert got[1]["symbol_ratio"] > 0.1 and not got[1]["gopher_keep"]
    assert got[2]["keep"] and got[2]["bullet_ratio"] == 1.0
    assert not got[2]["gopher_keep"]
    assert got[3]["keep"] and got[3]["ellipsis_ratio"] == 1.0
    assert not got[3]["gopher_keep"]
    assert got[4]["keep"] and got[4]["mean_word_len"] > 10.0
    assert not got[4]["gopher_keep"]
    assert not got[5]["keep"] and not got[5]["gopher_keep"]
    assert got[5]["mean_word_len"] == 0.0


def _py_levenshtein(a: str, b: str) -> int:
    # textbook DP reference, independent of both engines
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _py_editdist_neardup(texts, block, denom):
    """Independent pure-Python implementation of the full operator:
    char-based prefix/suffix blocking, BYTE-based banded verification."""
    norm = {i: t.lower().strip() for i, t in texts.items()}
    cand = set()
    for side, key in (("p", lambda s: s[:block]),
                      ("s", lambda s: s[-block:] if len(s) >= block else s)):
        blocks = {}
        for i, s in norm.items():
            blocks.setdefault(key(s), []).append(i)
        for ids in blocks.values():
            cand |= {(a, b) for a in ids for b in ids if a < b}
    out = {}
    for a, b in cand:
        ba, bb = norm[a].encode(), norm[b].encode()
        dist = _py_levenshtein(ba.decode("latin1"), bb.decode("latin1"))
        mx = max(len(ba), len(bb))
        if dist * denom <= mx:
            out[(a, b)] = (dist, mx, round(dist / mx, 6))
    return out


def test_editdist_neardup_blocking_and_threshold(spark, tmp_path):
    """Blocking recall + banded verification against an independent
    pure-Python implementation of the whole operator: a true MIDDLE
    edit past char 24 (caught by the prefix block with both blocks
    shared), a HEAD edit inside the first 24 chars (suffix block is
    the only recall path), an over-budget rewrite (blocked but
    rejected), an unrelated doc (never paired), and a non-ASCII pair
    locking the byte-based distance unit on both engines."""
    import duckdb

    from sec_xbrl_finwarehouse_spark.plans.text_queries import (
        DOC_EDITDIST_NEARDUP_SQL,
        EDITDIST_BLOCK,
        EDITDIST_DENOM,
        q_doc_editdist_neardup,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "astronauts calibrate the ancient telescope array near dawn"
    )
    texts = {
        0: base,
        # MIDDLE edit at char ~75 (past the 24-char block): shares
        # prefix-24 AND suffix-24 with base
        1: base.replace("calibrate", "recalibrate"),
        # HEAD edit inside the first 24 chars: only the suffix block
        # can pair it with base
        2: "a very quick brown fox jumps over the lazy dog while "
           "seventeen astronauts calibrate the ancient telescope "
           "array near dawn",
        # shares prefix-24 but rewritten past the 10% budget
        3: base[:30] + " entirely different remainder text goes here "
           "and keeps going with nothing in common at all anymore",
        # unrelated: no shared block
        4: "completely different subject matter with no overlap",
        # non-ASCII near-dup pair: multi-byte accents make byte and
        # code-point distances DIFFER; both engines must report bytes
        5: "café gâteau crème brûlée menu " * 4,
        6: ("café gâteau crème brûlée menu " * 3
            + "cafe gateau creme brulee menu "),
    }
    want = _py_editdist_neardup(texts, EDITDIST_BLOCK, EDITDIST_DENOM)
    # the fixture exercises every advertised path:
    assert (0, 1) in want and (0, 2) in want and (5, 6) in want
    assert texts[1].lower()[:24] == texts[0][:24]      # prefix shared
    assert texts[2].lower()[:24] != texts[0][:24]      # suffix-only
    assert all(3 not in p and 4 not in p for p in want)
    d56_bytes, _, _ = want[(5, 6)]
    d56_cp = _py_levenshtein(texts[5].lower(), texts[6].lower())
    assert d56_bytes > d56_cp  # the units genuinely differ here

    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    rows = q_doc_editdist_neardup(spark, str(tmp_path)).collect()
    got = {
        (r["doc_id_a"], r["doc_id_b"]):
            (r["edit_dist"], r["max_len"], r["edit_ratio"])
        for r in rows
    }
    assert got == want

    # the DuckDB oracle agrees on the same parquet (incl. non-ASCII)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    oracle = {
        (a, b): (d, m, r)
        for a, b, d, m, r in con.execute(DOC_EDITDIST_NEARDUP_SQL).fetchall()
    }
    assert oracle == want


def test_editdist_block_width_cap_bounds_boilerplate(spark, tmp_path):
    """Shared-prefix skew fixture: EDITDIST_BLOCK_CAP + 10 documents
    share an identical 24-char boilerplate prefix (a license-header
    shape) with pairwise-unrelated remainders, so the uncapped prefix
    block alone would emit (CAP+10)*(CAP+9)/2 candidate pairs. The cap
    must drop that block entirely -- the verified-pair set contains NO
    pair of boilerplate docs -- while a small (under-cap) block of two
    genuine near-dups still pairs normally, and the DuckDB oracle
    (same HAVING cap) agrees byte-for-byte."""
    import duckdb

    from sec_xbrl_finwarehouse_spark.plans.text_queries import (
        DOC_EDITDIST_NEARDUP_SQL,
        EDITDIST_BLOCK,
        EDITDIST_BLOCK_CAP,
        q_doc_editdist_neardup,
    )

    boiler = "x" * EDITDIST_BLOCK  # identical 24-char prefix
    n_boiler = EDITDIST_BLOCK_CAP + 10
    texts = {}
    for i in range(n_boiler):
        # distinct, pairwise-far remainders AND distinct suffix-24
        # blocks, so the only candidate path is the (dropped) prefix
        texts[i] = boiler + f" document body {i} " + f"tail{i:04d} " * 8
    # an under-cap block: two near-identical docs sharing their own
    # prefix (and suffix), verifying the cap leaves small blocks alone
    good = ("genuine near duplicate pair with a long shared body that "
            "continues well past the blocking prefix and stays aligned")
    texts[1000] = good
    texts[1001] = good.replace("aligned", "alignedd")

    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "documents.parquet"))

    rows = q_doc_editdist_neardup(spark, str(tmp_path)).collect()
    got = {(r["doc_id_a"], r["doc_id_b"]) for r in rows}
    # the boilerplate block is gone: no pair touches the capped block
    assert got == {(1000, 1001)}

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    oracle = {(a, b) for a, b, *_ in
              con.execute(DOC_EDITDIST_NEARDUP_SQL).fetchall()}
    assert oracle == got


def test_weighted_sample_is_top_k_by_aes_key(spark, tmp_path):
    """A-ES sample: agrees with an independent pure-Python computation
    of the u^(1/w) keys (log form), and the selection is biased toward
    heavier (longer) docs: the sampled mean weight exceeds the corpus
    mean weight on this fixture."""
    import hashlib
    import math

    from sec_xbrl_finwarehouse_spark.plans.text_queries import (
        WSAMPLE_K,
        q_doc_weighted_sample,
    )

    n_chars = {i: 20 + (i * 37) % 400 for i in range(300)}
    spark.createDataFrame(
        [(i, "x" * n_chars[i], "en", "s", n_chars[i]) for i in range(300)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "documents.parquet"))

    def key(i):
        h = hashlib.md5(str(i).encode()).hexdigest()
        u = int(h[:12], 16) / 16 ** 12
        return round(math.log(max(u, 1e-15)) / n_chars[i], 9)

    want = sorted(range(300), key=lambda i: (-key(i), i))[:WSAMPLE_K]
    rows = q_doc_weighted_sample(spark, str(tmp_path)).collect()
    got = [r["doc_id"] for r in rows]
    assert got == want
    for r in rows:
        assert r["sample_key"] == key(r["doc_id"])
    samp_mean = sum(n_chars[i] for i in got) / len(got)
    corpus_mean = sum(n_chars.values()) / len(n_chars)
    assert samp_mean > corpus_mean


def test_minhash_jaccard_est_matches_python_reference(spark, tmp_path):
    """The audit's md5-affine signature estimate agrees exactly with an
    independent pure-Python computation, and lands within the sketch's
    statistical band of the exact Jaccard (stderr ~ 0.044 at 128
    hashes; the fixed md5 draw makes the assertion deterministic)."""
    import hashlib

    from sec_xbrl_finwarehouse_spark.plans import text_queries as tq

    base = [f"w{i}" for i in range(40)]
    texts = {
        0: " ".join(base),
        1: " ".join(base[:36] + ["x1", "x2", "x3", "x4"]),  # J ~ 0.5+
        2: " ".join(f"q{i}" for i in range(40)),            # unrelated
    }
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    rows = tq.q_doc_minhash_jaccard_est(spark, str(tmp_path)).collect()
    assert {(r["d1"], r["d2"]) for r in rows} == {(0, 1)}
    r = rows[0]

    def shingles(t):
        w = t.lower().split()
        return {" ".join(w[i:i + tq.SHINGLE_K])
                for i in range(len(w) - tq.SHINGLE_K + 1)}

    def sig(t):
        out = []
        for a, b in tq.MINHASH_COEFFS:
            out.append(min(
                (a * (int(hashlib.md5(s.encode()).hexdigest()[:12], 16)
                      % tq.MINHASH_PRIME) + b) % tq.MINHASH_PRIME
                for s in shingles(t)
            ))
        return out
    sa, sb = sig(texts[0]), sig(texts[1])
    want_est = sum(x == y for x, y in zip(sa, sb)) / tq.MINHASH_HASHES
    s0, s1 = shingles(texts[0]), shingles(texts[1])
    want_j = len(s0 & s1) / len(s0 | s1)
    assert r["jaccard_est"] == want_est
    assert r["jaccard"] == want_j
    assert r["abs_err"] == round(abs(want_est - want_j), 6) < 0.15


def test_editdist_clusters_transitive_chain(spark, tmp_path):
    """A~B (suffix edit) and B~C (head edit of B) cluster transitively
    even when A and C exceed the pairwise budget; unrelated and
    NULL-text docs keep themselves."""
    from sec_xbrl_finwarehouse_spark.plans.text_queries import (
        q_doc_editdist_clusters,
        q_doc_editdist_neardup,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "astronauts calibrate the ancient telescope array near dawn"
    )
    texts = {
        0: base,
        1: base.replace("calibrate", "recalibrate"),       # ~0
        2: base.replace("calibrate", "recalibrate")
              .replace("the quick", "a very quick"),       # ~1 (head edit)
        3: "completely different subject matter here",     # singleton
        4: None,                                           # NULL text
    }
    spark.createDataFrame(
        [(i, t, "en", "s", len(t) if t else 0) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    pairs = {(r["doc_id_a"], r["doc_id_b"])
             for r in q_doc_editdist_neardup(spark, str(tmp_path)).collect()}
    assert (0, 1) in pairs and (1, 2) in pairs
    out = {r["doc_id"]: (r["cluster_rep"], r["keep"])
           for r in q_doc_editdist_clusters(spark, str(tmp_path)).collect()}
    assert out[0] == (0, True) and out[1] == (0, False)
    assert out[2] == (0, False)                            # transitive
    assert out[3] == (3, True) and out[4] == (4, True)
