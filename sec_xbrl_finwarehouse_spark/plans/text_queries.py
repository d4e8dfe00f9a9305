"""Text-analysis + deduplication operators over the ``documents`` table.

Beyond-reference training-data-pipeline pack: exact dedup, n-gram
Jaccard near-dup, MinHash+LSH near-dup, SimHash fingerprints, token
stats, quality scoring, language ID, and content fingerprints. Every
SQL-expressible query has a DuckDB oracle co-located here.

Scale notes (100 TB corpus):

* All tokenization/shingling is built-in expression API (split /
  transform / filter) -- whole-stage codegen, no Python in the hot path.
* Exact dedup is one hash aggregation on the normalized text (at real
  scale: group by ``xxhash64(text)`` first, then within-group confirm,
  so the shuffle key is 8 bytes, not the document).
* The exhaustive Jaccard join is the *oracle-checkable* spelling
  (explode shingles -> equi-join on shingle -> count); its cost is
  driven by document-frequency of the hottest shingle. The scale path
  is ``doc_minhash_lsh_dedup``: band keys from one generator-fed
  GROUP BY (doc_id, band) with two min() buffers (one shuffle), a
  self-join on the keys, then exact verification ONLY on candidates,
  from each candidate document's shingle array joined in by doc_id --
  the standard sub-quadratic near-dup pipeline. The verification
  shuffles one array row per candidate side, never the exploded
  shingles, so its cost is |candidates| x shingles-per-doc.
* Dedup clusters label the verified pair graph on the driver
  (operators/connected_components.py): the driver holds the pair
  graph, never the corpus, which joins the labels in Spark.
* MinHash params (128 hashes, 64 bands x 2 rows): P[miss | J=0.5]
  = (1 - 0.25)^64 ~= 1e-8, so the LSH output provably matches the
  exhaustive oracle on any data where near-dups sit at J >= 0.5, while
  background pairs (J ~= 0.02 here) are pruned before verification.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.connected_components import hash_min_components
from ..schemas import DOCUMENTS_SCHEMA
from ..sources.tables import parallelize_scan, table_path
from .sqlfrag import hex_prefix_bigint_sql, hex_prefix_frac_sql

JACCARD_THRESHOLD = 0.5
SHINGLE_K = 3
MINHASH_HASHES = 128
MINHASH_BAND_ROWS = 2

# MinHash permutation family: hash each shingle ONCE (xxhash64), reduce
# mod a Mersenne prime, then derive the 128 signature values as affine
# permutations sig_i = (a_i * h + b_i) mod p. Same LSH guarantees as 128
# independent hashes at ~1/100th the hash work (the r1 driver bench spent
# 77 s of 112 s inside 128x xxhash64-per-shingle). p = 2^31 - 1 keeps
# a_i * h < 2^62, so the arithmetic never overflows a signed 64-bit long
# even under Spark 4's ANSI mode; this is the same construction (and
# near the same prime) Spark MLlib's MinHashLSH uses. Coefficients are
# drawn from a fixed seed so signatures are deterministic across runs.
MINHASH_PRIME = (1 << 31) - 1
import random as _random

_rng = _random.Random(0x5EC0DE)
MINHASH_COEFFS = [
    (_rng.randint(1, MINHASH_PRIME - 1), _rng.randint(0, MINHASH_PRIME - 1))
    for _ in range(MINHASH_HASHES)
]
del _rng

# marker stopwords per language for the n-gram/stopword language-ID
# heuristic; CJK is detected by codepoint range instead of markers.
LANG_MARKERS = {
    "en": ["the", "a", "of", "is", "and"],
    "fr": ["le", "la", "les", "et", "des"],
    "de": ["der", "die", "und", "das", "nicht"],
    "es": ["el", "los", "las", "y", "una"],
}
EN_STOPWORDS = ["the", "a", "an", "of", "is", "and", "to", "in"]


# forced-broadcast ceiling for decontaminate's corpus-proportional test
# side: 128 MiB of source parquet (~10x the largest measured
# scale-proof corpus; distinct test shingles expand to roughly
# SHINGLE_K/8 x the text bytes, comfortably inside any driver)
DECONTAM_BROADCAST_MAX_BYTES = 128 << 20


def _source_bytes(path: str) -> int:
    """On-disk bytes of a local parquet table (file or directory) --
    the metadata a broadcast gate can read for free instead of running
    a count job. Returns -1 for a non-local/unknown source (remote
    URIs at production scale): the caller must then leave strategy
    choice to AQE rather than force a hint."""
    import os

    if os.path.isfile(path):
        return os.path.getsize(path)
    if not os.path.isdir(path):
        return -1
    total = 0
    for root, dirs, files in os.walk(path):
        # prune hidden/metadata TREES too (a crashed write's
        # _temporary/ attempts must not inflate the measured size and
        # silently flip the gate), matching the per-file rule
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for f in files:
            if not f.startswith((".", "_")):
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    return total


# Minimum rows per split for scans feeding Arrow/pandas kernels
# (guide §4.2): below this, the per-task Python round-trip and the
# kernel's fixed per-batch setup (numpy allocs, einsum dispatch)
# outweigh the extra parallelism. Chosen by A/B at sf0.1 (r13): with
# 32-way splits of the ~5k-doc table the kernel queries ANTI-scaled
# (slower at 32 cores than 8 -- PERF_r12); rows/512 widths were
# flat-or-better at 32 cores and strictly better at 8. At real scale
# rows >> cores x 512 and this is a no-op.
KERNEL_MIN_SPLIT_ROWS = 512


def _documents(
    spark: SparkSession, sf_dir: str, kernel: bool = False
) -> DataFrame:
    """Documents scan, spread across cores when the file layout is too
    small to parallelize naturally (single-row-group local test files
    scan as ONE split, serializing the tokenize/shingle CPU work that
    dominates every query here). Hash-partitioned on doc_id so the
    per-doc aggregations downstream reuse the exchange. No-op at real
    scale -- see :func:`parallelize_scan`.

    The scan reads with the declared DOCUMENTS_SCHEMA, so building it
    launches no Spark job (an inferred parquet schema costs one
    footer-reading job per call).

    ``kernel=True`` for scans that feed an Arrow/pandas kernel: the
    split width is additionally row-aware (KERNEL_MIN_SPLIT_ROWS) so
    the kernel never receives near-empty Arrow batches (guide §4.2;
    the r12 anti-scaling fix -- see parallelize_scan)."""
    return parallelize_scan(
        spark.read.schema(DOCUMENTS_SCHEMA).parquet(
            table_path(sf_dir, "documents")
        ),
        "doc_id",
        min_split_rows=KERNEL_MIN_SPLIT_ROWS if kernel else None,
    )


def _persist_hot(df: DataFrame) -> DataFrame:
    """Persist a multiply-consumed intermediate at MEMORY_AND_DISK
    (spill, don't recompute). The level is named explicitly:
    ``persist()``'s default, MEMORY_AND_DISK_DESER, caches deserialized
    rows instead."""
    from pyspark import StorageLevel

    return df.persist(StorageLevel.MEMORY_AND_DISK)


def _tokens(col):
    """Whitespace tokens of trimmed, lowercased text (empties filtered)."""
    return F.filter(F.split(F.lower(F.trim(col)), " +"), lambda t: t != "")


def _shingles(tokens_col, k: int = SHINGLE_K):
    """Distinct k-word shingles; empty array when the doc is shorter
    than k tokens.

    IMPORTANT perf note: ``tokens_col`` must be a bound column (alias the
    token expression first), never the raw ``_tokens(...)`` expression --
    Catalyst does not eliminate common subexpressions across lambda
    bodies, so an inlined expression re-tokenizes per shingle (O(n^2),
    measured 20x slower at sf0.1). ``array_join(slice(...))`` is likewise
    ~20x faster than per-element ``element_at`` + ``concat_ws``."""
    n = F.size(tokens_col)
    return F.when(n < k, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.array_join(F.slice(tokens_col, i, k), " "),
            )
        )
    )


# ---- exact dedup -----------------------------------------------------------

def q_doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text, keyed by the 8-byte hash of the
    text rather than the text itself: one surviving doc_id (the min) per
    distinct normalized document + how many copies it had.

    Scale plan (this IS the shipped plan, not a docstring aspiration):
    group by ``xxhash64(norm)`` so the shuffle hashes/compares 8-byte
    keys instead of full documents, carrying ``min(norm)``/``max(norm)``
    through the same aggregation as a collision check. Hash groups where
    min == max (every group, in practice: P[any xxhash64 collision] ~
    n^2 / 2^64) are emitted directly; a collided group -- two DIFFERENT
    texts sharing a hash -- is re-resolved by re-grouping just those
    rows on the exact text, so output equals the text-keyed oracle even
    under collisions. The fallback branch is a broadcast semi-join on a
    (near-always-empty) key set, costing one empty-side job.

    NULL handling: documents with NULL text form one group (the oracle's
    GROUP BY groups NULLs together, as does Spark's). min/max IGNORE
    nulls, so the collision check must be null-safe on two axes: an
    all-NULL group has mn = mx = NULL (eqNullSafe keeps it clean), and a
    mixed NULL/non-NULL hash collision would fool a bare min=max check
    because the NULLs vanish from both -- hence the n_nonnull guard."""
    d = _documents(spark, sf_dir).withColumn("norm", F.lower(F.trim("text")))
    agg = d.groupBy(F.xxhash64("norm").alias("hkey")).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count("*").alias("n_copies"),
        F.min("norm").alias("mn"),
        F.max("norm").alias("mx"),
        F.count("norm").alias("n_nonnull"),
    )
    is_clean = F.col("mn").eqNullSafe(F.col("mx")) & (
        (F.col("n_nonnull") == F.col("n_copies")) | (F.col("n_nonnull") == 0)
    )
    clean = agg.filter(is_clean).select("keep_doc_id", "n_copies")
    collided_keys = agg.filter(~is_clean).select("hkey")
    collided = (
        d.withColumn("hkey", F.xxhash64("norm"))
        .join(F.broadcast(collided_keys), "hkey", "left_semi")
        .groupBy("norm")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
        .select("keep_doc_id", "n_copies")
    )
    return clean.unionByName(collided)


DOC_EXACT_DEDUP_SQL = """
SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM documents
GROUP BY lower(trim(text))
"""


# ---- token stats -----------------------------------------------------------

def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts: whitespace tokens, distinct tokens,
    chars, mean token length. Pure projection -- no shuffle at all."""
    d = _documents(spark, sf_dir).select(
        "doc_id", "text", _tokens(F.col("text")).alias("toks")
    )
    toks = F.col("toks")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.length(F.trim("text")).alias("n_chars_actual"),
        (F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
         / F.greatest(F.size(toks), F.lit(1))).alias("avg_token_len"),
    )


DOC_TOKEN_STATS_SQL = """
WITH tok AS (
  SELECT doc_id, trim(text) AS t,
         list_filter(string_split_regex(lower(trim(text)), ' +'), x -> x <> '') AS w
  FROM documents
)
SELECT doc_id,
       len(w) AS n_tokens,
       len(list_distinct(w)) AS n_distinct_tokens,
       length(t) AS n_chars_actual,
       list_sum([length(x) for x in w]) / greatest(len(w), 1) AS avg_token_len
FROM tok
"""


# ---- BPE-ish regex token count ---------------------------------------------

# the GPT-2-style pretokenizer lives beside the true-BPE kernel now
# (functions/bpe.py, r12); re-exported here because this module's
# oracles and external tools reference it under this name.
from ..functions.bpe import (  # noqa: E402
    BPE_MERGES,
    BPE_PATTERN,
    ENC_SEP,
    bpe_count_batches,
    bpe_encode_batches,
)


def q_doc_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counts under a BPE-ish regex pretokenizer (the GPT-2 split
    pattern, ASCII-approximated) next to the whitespace count -- the
    standard "how many tokens will training see" estimator. Pure
    projection (regexp_extract_all is a built-in, no UDF, no shuffle);
    non-whitespace token count excludes runs of pure whitespace like BPE
    pretokenization does."""
    d = _documents(spark, sf_dir)
    # Column API, not F.expr: the pattern contains a single quote (the
    # contraction branch), which would terminate a SQL string literal
    toks = F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), F.lit(0))
    return d.select(
        "doc_id",
        F.size(_tokens(F.col("text"))).alias("n_ws_tokens"),
        F.size(F.filter(toks, lambda t: t.rlike("\\S"))).alias("n_bpe_tokens"),
    )


DOC_BPE_TOKEN_COUNT_SQL = f"""
SELECT doc_id,
       len(list_filter(string_split_regex(lower(trim(text)), ' +'), x -> x <> ''))
         AS n_ws_tokens,
       len(list_filter(regexp_extract_all(text, '{BPE_PATTERN.replace("'", "''")}'),
                       x -> regexp_matches(x, '\\S')))
         AS n_bpe_tokens
FROM documents
"""


# ---- true BPE encode (pinned merges fixture) --------------------------------

def q_doc_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE byte-pair encoding under the pinned {len(BPE_MERGES)}-rule
    merges fixture (functions/bpe.py -- trained by
    tools/train_bpe_fixture.py): per document, the exact post-merge
    token count plus the md5 of the full ENC_SEP-joined token stream,
    so the oracle verifies the complete encoding bit-for-bit, not just
    a count. This is the tokenizer the sequence-packing /
    token-budgeting stack should key on -- the regex estimator
    (:func:`q_doc_bpe_token_count`) over-counts by whatever the merge
    table compresses, and non-uniformly across documents.

    One Arrow-batched ``mapInPandas`` kernel: zero shuffle, merges
    broadcast by closure, per-task pretoken memo (Zipf-distributed
    pretokens make the effective cost ~O(distinct pretokens)). See
    functions/bpe.py for the greedy/rank-order equivalence contract
    the DuckDB oracle relies on."""
    # kernel=True: row-aware split width (guide §4.2, r13 -- the BPE
    # kernel's per-task pretoken memo only pays off on full batches;
    # 32-way splits of the small local table anti-scaled, 0.59x)
    d = _documents(spark, sf_dir, kernel=True).select("doc_id", "text")
    return d.mapInPandas(
        bpe_encode_batches,
        "doc_id bigint, n_bpe_tokens bigint, enc_md5 string",
    )


def _bpe_merges_values_sql() -> str:
    rows = ", ".join(
        f"({r}, '{a.replace(chr(39), chr(39) * 2)}', "
        f"'{b.replace(chr(39), chr(39) * 2)}')"
        for r, (a, b) in enumerate(BPE_MERGES)
    )
    return rows


# Oracle: the rank-order formulation -- a fixed-depth recursive CTE
# applying each merge rule exhaustively once, rank 0..R-1, over the
# DISTINCT pretokens (the same memo trick as the kernel). The one
# subtle part is the left-to-right non-overlap semantics for a == b
# runs: mk marks every (a, b) adjacency; a marked position STARTS a
# merge iff the run of consecutive marks immediately before it has
# even length (positions after an odd run are consumed by the merge
# starting one to their left). Equivalence of rank-order passes with
# the kernel's greedy loop holds because the pinned merges list is
# well-formed (training order) -- asserted in tests/test_bpe_encode.py.
# The CTE chain up to `done` (pretokenize -> distinct pretokens ->
# rank-order merges -> final symbol lists) is shared verbatim with the
# BPE-budgeted packing oracle below, so the two can never drift.
_BPE_CTE_BODY = f"""merges(r, a, b) AS (
  SELECT * FROM (VALUES {_bpe_merges_values_sql()}) m(r, a, b)
),
pre AS (
  SELECT doc_id,
         regexp_extract_all(coalesce(text, ''),
                            '{BPE_PATTERN.replace("'", "''")}') AS toks
  FROM documents
),
pt AS (
  SELECT doc_id,
         unnest(toks) AS tok,
         unnest(range(1, len(toks) + 1)) AS pos
  FROM pre
),
dtok AS (SELECT DISTINCT tok FROM pt),
enc AS (
  SELECT tok, regexp_extract_all(tok, '(?s).') AS syms, 0 AS r
  FROM dtok
  UNION ALL
  SELECT tok,
         flatten(list_transform(range(1, n + 1), i ->
           CASE WHEN st[i] THEN [a || b]
                WHEN i > 1 AND st[i - 1] THEN []::VARCHAR[]
                ELSE [syms[i]] END)) AS syms,
         r + 1 AS r
  FROM (
    SELECT tok, syms, r, a, b, n,
           list_transform(range(1, n + 1), i ->
             mk[i] AND
             (i - 1 - list_max(list_transform(range(0, i), j ->
                CASE WHEN j = 0 OR NOT mk[j] THEN j ELSE -1 END))) % 2 = 0
           ) AS st
    FROM (
      SELECT e.tok, e.syms, e.r, m.a, m.b, len(e.syms) AS n,
             list_transform(range(1, len(e.syms) + 1), i ->
               i < len(e.syms) AND e.syms[i] = m.a AND e.syms[i + 1] = m.b
             ) AS mk
      FROM enc e JOIN merges m ON m.r = e.r
    ) s1
  ) s2
),
done AS (SELECT tok, syms FROM enc WHERE r = {len(BPE_MERGES)})"""

DOC_BPE_ENCODE_SQL = f"""
WITH RECURSIVE {_BPE_CTE_BODY},
docenc AS (
  SELECT pt.doc_id,
         CAST(sum(len(d.syms)) AS BIGINT) AS n_bpe_tokens,
         string_agg(array_to_string(d.syms, chr(31)), chr(31)
                    ORDER BY pt.pos) AS enc
  FROM pt JOIN done d USING (tok)
  GROUP BY pt.doc_id
)
SELECT x.doc_id,
       coalesce(de.n_bpe_tokens, 0) AS n_bpe_tokens,
       md5(coalesce(de.enc, '')) AS enc_md5
FROM documents x LEFT JOIN docenc de USING (doc_id)
"""


# ---- deterministic train/test split ----------------------------------------

TRAIN_HEX = tuple("0123456789abcd")  # 14/16 of the md5 space -> "train"


def q_doc_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic, engine-independent train/test assignment: split by
    the first hex digit of md5(doc_id) (14/16 ~ 87.5% train). This is
    the content-stable split every training pipeline needs -- no RNG, no
    seed coordination across engines or re-runs, re-ingesting the same
    doc always lands in the same split, and at 100 TB it is a pure
    projection (no shuffle, no sampling pass)."""
    d = _documents(spark, sf_dir)
    first_hex = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    return d.select(
        "doc_id",
        F.when(first_hex.isin(*TRAIN_HEX), F.lit("train"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


DOC_TRAIN_TEST_SPLIT_SQL = f"""
SELECT doc_id,
       CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                 IN {TRAIN_HEX!r} THEN 'train' ELSE 'test' END AS split
FROM documents
"""


# ---- quality scoring -------------------------------------------------------

def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality signals: length, stopword ratio, non-alpha char
    ratio, repetition (1 - distinct/total tokens), plus a keep/drop flag
    in the style of Gopher/C4 quality filters — and (r8) the REMAINING
    published Gopher rules as first-class columns: mean word length
    (3-10 band), symbol-to-word ratio (# and ... symbols), and the
    line-shape ratios (bullet-started, ellipsis-ended lines).
    ``gopher_keep`` is the full composite; the original ``keep`` is
    unchanged so downstream consumers (doc_corpus_build) keep their
    contract. All built-in expressions; the filter composes with the
    scan (predicate pushdown on n_chars)."""
    d = _documents(spark, sf_dir).select(
        "doc_id", "text", _tokens(F.col("text")).alias("toks")
    )
    toks = F.col("toks")
    n_tok = F.size(toks)
    n_tok1 = F.greatest(n_tok, F.lit(1))
    stop_ratio = (
        F.size(F.filter(toks, lambda t: t.isin(EN_STOPWORDS))) / n_tok1
    ).cast("double")
    nonalpha = (
        F.length(F.regexp_replace(F.lower(F.trim("text")), "[a-z0-9 ]", ""))
        / F.greatest(F.length(F.trim("text")), F.lit(1))
    ).cast("double")
    rep = (F.lit(1.0) - F.size(F.array_distinct(toks)) / n_tok1)
    # Gopher's remaining rules (all map-side, no extra pass):
    # mean word length -- natural prose sits in the 3-10 char band
    mwl = (
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
        / n_tok1
    ).cast("double")
    # symbol-to-word ratio: '#' chars + '...' occurrences per token
    raw = F.col("text")
    n_hash = F.length(raw) - F.length(F.replace(raw, F.lit("#"), F.lit("")))
    n_ell = (
        F.length(raw) - F.length(F.replace(raw, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    symbol_ratio = ((n_hash + n_ell) / n_tok1).cast("double")
    # line-shape ratios: bullet-started and ellipsis-ended lines
    lines = F.split(raw, "\n")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet_ratio = (
        F.size(F.filter(
            lines,
            lambda l: l.startswith("-") | l.startswith("*")
            | l.startswith("•"),
        )) / n_lines
    ).cast("double")
    ellipsis_ratio = (
        F.size(F.filter(lines, lambda l: l.endswith("..."))) / n_lines
    ).cast("double")
    keep = (
        (n_tok >= 10) & (n_tok <= 100000)
        & (stop_ratio > 0.0) & (nonalpha < 0.3)
    )
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        stop_ratio.alias("stopword_ratio"),
        nonalpha.alias("nonalpha_ratio"),
        rep.alias("repetition_ratio"),
        mwl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_ratio.alias("bullet_ratio"),
        ellipsis_ratio.alias("ellipsis_ratio"),
        keep.alias("keep"),
        (
            keep & (mwl >= 3.0) & (mwl <= 10.0)
            & (symbol_ratio < 0.1)
            & (bullet_ratio <= 0.9) & (ellipsis_ratio <= 0.3)
        ).alias("gopher_keep"),
    )


DOC_QUALITY_SQL = f"""
WITH tok AS (
  SELECT doc_id, text, trim(text) AS t,
         list_filter(string_split_regex(lower(trim(text)), ' +'), x -> x <> '') AS w,
         string_split(text, chr(10)) AS ls
  FROM documents
),
m AS (
  SELECT doc_id,
         len(w) AS n_tokens,
         (len(list_filter(w, x -> list_contains({EN_STOPWORDS!r}, x)))
          / greatest(len(w), 1))::double AS stopword_ratio,
         (length(regexp_replace(lower(t), '[a-z0-9 ]', '', 'g'))
          / greatest(length(t), 1))::double AS nonalpha_ratio,
         1.0 - len(list_distinct(w)) / greatest(len(w), 1) AS repetition_ratio,
         (coalesce(list_sum(list_transform(w, x -> length(x))), 0)
          / greatest(len(w), 1))::double AS mean_word_len,
         ((length(text) - length(replace(text, '#', ''))
           + (length(text) - length(replace(text, '...', ''))) / 3)
          / greatest(len(w), 1))::double AS symbol_ratio,
         (len(list_filter(ls, x -> starts_with(x, '-')
                                   OR starts_with(x, '*')
                                   OR starts_with(x, '•')))
          / greatest(len(ls), 1))::double AS bullet_ratio,
         (len(list_filter(ls, x -> ends_with(x, '...')))
          / greatest(len(ls), 1))::double AS ellipsis_ratio
  FROM tok
)
SELECT doc_id, n_tokens, stopword_ratio, nonalpha_ratio, repetition_ratio,
       mean_word_len, symbol_ratio, bullet_ratio, ellipsis_ratio,
       (n_tokens >= 10 AND n_tokens <= 100000
        AND stopword_ratio > 0.0 AND nonalpha_ratio < 0.3) AS keep,
       (n_tokens >= 10 AND n_tokens <= 100000
        AND stopword_ratio > 0.0 AND nonalpha_ratio < 0.3
        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        AND symbol_ratio < 0.1
        AND bullet_ratio <= 0.9 AND ellipsis_ratio <= 0.3) AS gopher_keep
FROM m
"""


# ---- language ID -----------------------------------------------------------

def q_doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-stopword language ID: vote per language = count of that
    language's marker tokens; CJK text detected by codepoint range.
    Argmax with fixed tie order (en > fr > de > es). Pure projection."""
    d = _documents(spark, sf_dir).select(
        "doc_id", "text", _tokens(F.col("text")).alias("toks")
    )
    toks = F.col("toks")

    def _vote(markers):
        # NB: the lambda must be unary -- F.filter dispatches on arity,
        # and a second parameter would receive the element index.
        return F.size(F.filter(toks, lambda t: t.isin(markers)))

    votes = {lang: _vote(markers) for lang, markers in LANG_MARKERS.items()}
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
    return d.select(
        "doc_id",
        *[v.alias(f"votes_{k}") for k, v in votes.items()],
        pred.alias("pred_lang"),
    )


def _lang_vote_sql(lang: str) -> str:
    return (f"len(list_filter(w, x -> list_contains({LANG_MARKERS[lang]!r}, x)))")


DOC_LANG_ID_SQL = f"""
WITH tok AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(trim(text)), ' +'), x -> x <> '') AS w
  FROM documents
),
votes AS (
  SELECT doc_id, text,
         {_lang_vote_sql('en')} AS votes_en,
         {_lang_vote_sql('fr')} AS votes_fr,
         {_lang_vote_sql('de')} AS votes_de,
         {_lang_vote_sql('es')} AS votes_es
  FROM tok
)
SELECT doc_id, votes_en, votes_fr, votes_de, votes_es,
       CASE
         WHEN length(regexp_replace(text, '[^\\x{{4E00}}-\\x{{9FFF}}]', '', 'g')) > 0 THEN 'zh'
         WHEN greatest(votes_en, votes_fr, votes_de, votes_es) = 0 THEN 'und'
         WHEN votes_en = greatest(votes_en, votes_fr, votes_de, votes_es) THEN 'en'
         WHEN votes_fr = greatest(votes_en, votes_fr, votes_de, votes_es) THEN 'fr'
         WHEN votes_de = greatest(votes_en, votes_fr, votes_de, votes_es) THEN 'de'
         ELSE 'es'
       END AS pred_lang
FROM votes
"""


# ---- fingerprinting --------------------------------------------------------

def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: md5 of normalized text (exact-dup key) and
    the min/max md5 over k-shingles (an order-invariant content sketch,
    i.e. a 1-hash MinHash both engines can compute bit-identically).

    The shingle sketch comes from one agg over the exploded shingle rows
    (map-side combine, no array-valued intermediates); a left join keeps
    short docs (< k tokens) with NULL sketch and n_shingles = 0."""
    d = _documents(spark, sf_dir)
    ex = _doc_shingles_exploded(spark, sf_dir)
    sketch = ex.groupBy("doc_id").agg(
        F.min(F.md5("shingle")).alias("min_shingle_md5"),
        F.max(F.md5("shingle")).alias("max_shingle_md5"),
        F.count("*").alias("n_sh"),
    )
    return (
        d.select("doc_id", F.md5(F.lower(F.trim("text"))).alias("content_md5"))
        .join(sketch, "doc_id", "left")
        .select(
            "doc_id", "content_md5", "min_shingle_md5", "max_shingle_md5",
            F.coalesce(F.col("n_sh"), F.lit(0)).alias("n_shingles"),
        )
    )


DOC_FINGERPRINT_SQL = f"""
WITH tok AS (
  SELECT doc_id, trim(text) AS t,
         list_filter(string_split_regex(lower(trim(text)), ' +'), x -> x <> '') AS w
  FROM documents
),
sh AS (
  SELECT doc_id, t,
         CASE WHEN len(w) < {SHINGLE_K} THEN []::varchar[]
              ELSE list_distinct([array_to_string(w[i:i+{SHINGLE_K - 1}], ' ')
                                  for i in range(1, len(w) - {SHINGLE_K - 2})])
         END AS shingles
  FROM tok
)
SELECT doc_id,
       md5(lower(t)) AS content_md5,
       list_min([md5(s) for s in shingles]) AS min_shingle_md5,
       list_max([md5(s) for s in shingles]) AS max_shingle_md5,
       len(shingles) AS n_shingles
FROM sh
"""


# ---- n-gram Jaccard near-dup (exhaustive, oracle-checkable) ----------------

def _doc_shingles_exploded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) rows, distinct per doc.

    Perf-critical shape: the explode sits IN THE SAME projection as the
    shingle transform (one Generate over the tokens column). Materializing
    the array in a separate select and exploding it later measured ~8x
    slower at sf0.1 (the array-valued intermediate row defeats codegen).
    Short docs (< k tokens) contribute no rows -- explode of the empty
    array -- which downstream joins/aggs treat correctly."""
    toks = _documents(spark, sf_dir).select(
        "doc_id", _tokens(F.col("text")).alias("toks")
    )
    return toks.select(
        "doc_id", F.explode(_shingles(F.col("toks"))).alias("shingle")
    )


def _jaccard_from_exploded(ex: DataFrame) -> DataFrame:
    """Exact Jaccard of every pair sharing a shingle, from (doc_id,
    shingle) rows: the exhaustive oracle baseline.

    intersection = co-occurring shingle count per (d1, d2) from a
    shingle self equi-join -- cost driven by the document frequency of
    the hottest shingle, the honest all-pairs lower bound; union =
    n1 + n2 - intersection with sizes from one count agg. The LSH path
    verifies its candidates on shingle arrays instead
    (:func:`_verify_candidates`).

    ``ex`` is persisted (``_persist_hot``, MEMORY_AND_DISK): it feeds
    three consumers (sizes + both join sides) and recomputing the
    tokenize+shingle scan per consumer measured ~2x the whole query's
    runtime."""
    ex = _persist_hot(ex)
    sizes = ex.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = ex.alias("a")
    b = ex.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "d1")
                   .withColumnRenamed("n_sh", "n1"), "d1")
        .join(sizes.withColumnRenamed("doc_id", "d2")
              .withColumnRenamed("n_sh", "n2"), "d2")
        .withColumn(
            "jaccard",
            (F.col("n_inter") / (F.col("n1") + F.col("n2") - F.col("n_inter")))
            .cast("double"),
        )
    )


def q_doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    distinct shingles whose FIRST appearance (min doc_id over the whole
    corpus) is this document -- the dedup-aware curation signal that
    separates fresh content from recombinations of already-seen text
    (novelty ~1 = new material, ~0 = remix of earlier documents).

    Plan shape: the distinct (doc_id, shingle) set feeds a shingle-keyed
    min(doc_id) aggregation (vocabulary-sized output, map-side
    combinable -- the same shared dimension the TF-IDF df table is),
    joined back by shingle, then one per-doc count agg. Short docs
    (< k tokens) re-enter with n_shingles 0 and NULL novelty."""
    ex = _persist_hot(_doc_shingles_exploded(spark, sf_dir))
    first = ex.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    per = (
        ex.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1)
                  .otherwise(0)).alias("n_novel"),
        )
    )
    d = _documents(spark, sf_dir).select("doc_id")
    # novelty FIRST in the select list: it must bind the raw (nullable)
    # join outputs, and Spark's lateral column alias resolution would
    # otherwise rebind it to the zero-coalesced aliases of the same
    # names -- turning a short doc's NULL novelty into 0/0 = NaN (the
    # [[spark-lateral-column-alias-trap]] seen in emb_int8_quantize)
    return (
        d.join(per, "doc_id", "left")
        .select(
            "doc_id",
            (F.col("n_novel") / F.col("n_shingles")).cast("double")
            .alias("novelty"),
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
        )
    )


DOC_NGRAM_NOVELTY_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), ' +'), x -> x <> '') AS w
  FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(CASE WHEN len(w) < {SHINGLE_K} THEN []::varchar[]
                     ELSE list_distinct([array_to_string(w[i:i+{SHINGLE_K - 1}], ' ')
                                         for i in range(1, len(w) - {SHINGLE_K - 2})])
                END) AS shingle
  FROM tok
),
first AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1),
per AS (
  SELECT sh.doc_id,
         count(*) AS n_shingles,
         CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
              AS BIGINT) AS n_novel
  FROM sh JOIN first f USING (shingle)
  GROUP BY 1
)
SELECT d.doc_id,
       coalesce(p.n_shingles, 0) AS n_shingles,
       coalesce(p.n_novel, 0) AS n_novel,
       (p.n_novel::DOUBLE / p.n_shingles) AS novelty
FROM documents d LEFT JOIN per p USING (doc_id)
"""


CONTAINMENT_THRESHOLD = 0.8


def q_doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs where one document's shingle set is >= {CONTAINMENT_THRESHOLD}
    CONTAINED in the other: containment(A in B) = |A ∩ B| / |A|. This
    catches subset-duplication -- a short doc quoted inside a long one,
    boilerplate wrapping real content -- which symmetric Jaccard
    misses (|A|=20 inside |B|=200 has J ~= 0.1 but containment 1.0).
    MinHash bands under-sample these pairs for the same reason, so a
    real dedup pipeline runs BOTH detectors.

    Same intersection machinery as the Jaccard pairs (shingle equi-join,
    per-pair co-occurrence count, sizes joined back); only the final
    similarity expression differs. Emits both directions' containment
    plus Jaccard for triage, filtered on max(containment)."""
    ex = _doc_shingles_exploded(spark, sf_dir)
    j = _jaccard_from_exploded(ex)
    c1 = (F.col("n_inter") / F.col("n1")).cast("double")
    c2 = (F.col("n_inter") / F.col("n2")).cast("double")
    return (
        j.withColumn("containment_1_in_2", F.round(c1, 6))
        .withColumn("containment_2_in_1", F.round(c2, 6))
        .filter(
            F.greatest("containment_1_in_2", "containment_2_in_1")
            >= CONTAINMENT_THRESHOLD
        )
        .select("d1", "d2", "containment_1_in_2", "containment_2_in_1",
                "jaccard")
    )


DOC_CONTAINMENT_PAIRS_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), ' +'), x -> x <> '') AS w
  FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(w) < {SHINGLE_K} THEN []::varchar[]
              ELSE list_distinct([array_to_string(w[i:i+{SHINGLE_K - 1}], ' ')
                                  for i in range(1, len(w) - {SHINGLE_K - 2})])
         END AS shingles
  FROM tok
),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         len(list_intersect(a.shingles, b.shingles)) AS n_inter,
         len(a.shingles) AS n1, len(b.shingles) AS n2
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.shingles, b.shingles)) > 0
)
SELECT d1, d2,
       round(n_inter::DOUBLE / n1, 6) AS containment_1_in_2,
       round(n_inter::DOUBLE / n2, 6) AS containment_2_in_1,
       (n_inter::DOUBLE / (n1 + n2 - n_inter)) AS jaccard
FROM pairs
WHERE greatest(round(n_inter::DOUBLE / n1, 6),
               round(n_inter::DOUBLE / n2, 6)) >= {CONTAINMENT_THRESHOLD}
"""


def q_doc_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs with k-shingle Jaccard >= 0.5, via explode -> equi-join
    on shingle -> per-pair intersection count. No cross join: candidate
    generation cost scales with shingle document frequency, not n^2.
    At 100 TB, cap hot shingles by document frequency first (drops only
    pairs whose entire overlap is boilerplate) or use the MinHash
    variant below."""
    ex = _doc_shingles_exploded(spark, sf_dir)
    return (
        _jaccard_from_exploded(ex)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("d1", "d2", "jaccard")
    )


DOC_JACCARD_PAIRS_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), ' +'), x -> x <> '') AS w
  FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(w) < {SHINGLE_K} THEN []::varchar[]
              ELSE list_distinct([array_to_string(w[i:i+{SHINGLE_K - 1}], ' ')
                                  for i in range(1, len(w) - {SHINGLE_K - 2})])
         END AS shingles
  FROM tok
)
SELECT a.doc_id AS d1, b.doc_id AS d2,
       (len(list_intersect(a.shingles, b.shingles))::double
        / (len(a.shingles) + len(b.shingles)
           - len(list_intersect(a.shingles, b.shingles)))) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE (len(list_intersect(a.shingles, b.shingles))::double
       / (len(a.shingles) + len(b.shingles)
          - len(list_intersect(a.shingles, b.shingles)))) >= {JACCARD_THRESHOLD}
"""


# ---- MinHash + LSH near-dup (the scale path; same output contract) ---------

# MINHASH_COEFFS grouped by LSH band, as one SQL literal of type
# array<struct<a0, b0, a1, b1>> (bigints): a generator over it yields
# one row per band carrying that band's coefficient pairs
_MINHASH_BANDS_SQL = "array(" + ", ".join(
    "named_struct(" + ", ".join(
        f"'a{r}', {a}L, 'b{r}', {b}L"
        for r, (a, b) in enumerate(MINHASH_COEFFS[i:i + MINHASH_BAND_ROWS])
    ) + ")"
    for i in range(0, MINHASH_HASHES, MINHASH_BAND_ROWS)
) + ")"


def _band_signatures(hashed: DataFrame) -> DataFrame:
    """(doc_id, sh) rows, ``sh`` a shingle's base hash in [0, p) ->
    (doc_id, band, h0, h1) rows: each document's MinHash signature, one
    row per band, ``h<r>`` the min over the document's shingles of
    ``(a * sh + b) mod p`` for the band's r-th coefficient pair.

    ``posexplode`` over _MINHASH_BANDS_SQL turns each shingle into one
    row per band, and one GROUP BY (doc_id, band) keeps a min() buffer
    per band row, so the plan stays a few operators wide at any
    MINHASH_HASHES. A GROUP BY doc_id with one min() per hash gives
    the same values, but on this workload analysing, planning and
    compiling its 128 aggregates cost more per query than the
    executors spent on the data."""
    mins = ", ".join(
        f"min((c.a{r} * sh + c.b{r}) % {MINHASH_PRIME}L) AS h{r}"
        for r in range(MINHASH_BAND_ROWS)
    )
    return hashed.sparkSession.sql(
        f"""
        SELECT doc_id, band, {mins}
        FROM {{hashed}} LATERAL VIEW posexplode({_MINHASH_BANDS_SQL}) AS band, c
        GROUP BY doc_id, band
        """,
        hashed=hashed,
    )


def minhash_bands_of(ex: DataFrame) -> DataFrame:
    """(doc_id, shingle) rows -> (doc_id, band, bh) LSH band keys.

    Hash each shingle ONCE (xxhash64 -> pmod p), derive the
    {MINHASH_HASHES} signature values as affine permutations of that
    single hash (MINHASH_COEFFS), one row per (doc_id, band)
    (:func:`_band_signatures`), and hash each band's values into its
    key, ``bh = xxhash64(h0, h1)`` (the input of
    :func:`_lsh_candidates`). tests/test_text.py keeps the earlier
    128-aggregate spelling as the differential reference: the rows
    are identical."""
    hashed = ex.select(
        "doc_id",
        F.pmod(F.xxhash64("shingle"), F.lit(MINHASH_PRIME)).alias("sh"),
    )
    hs = [f"h{r}" for r in range(MINHASH_BAND_ROWS)]
    return _band_signatures(hashed).select(
        "doc_id", "band", F.xxhash64(*hs).alias("bh")
    )


def _doc_shingle_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingles) rows, one per document, persisted: the
    distinct shingle array of each document (empty below k tokens and
    for NULL text). The LSH path explodes it for the band keys and
    verifies candidates on the arrays themselves, so the corpus is
    tokenized once per query."""
    toks = _documents(spark, sf_dir).select(
        "doc_id", _tokens(F.col("text")).alias("toks")
    )
    return _persist_hot(
        toks.select("doc_id", _shingles(F.col("toks")).alias("shingles"))
    )


def _lsh_candidates(sh: DataFrame) -> DataFrame:
    """(doc_id, shingles) rows -> distinct (d1 < d2) candidate pairs: the
    documents that share at least one LSH band key. One self-join on
    (band, bh) over the persisted band table."""
    ex = sh.select("doc_id", F.explode("shingles").alias("shingle"))
    bands = _persist_hot(minhash_bands_of(ex))  # n_docs x 64 rows -- small even at scale
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bh") == F.col("b.bh"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )


def _verify_candidates(sh: DataFrame, cand: DataFrame) -> DataFrame:
    """Candidate (d1, d2) pairs -> (d1, d2, jaccard) pairs at J >=
    {JACCARD_THRESHOLD}: exact Jaccard from the two documents' shingle
    arrays, joined on d1 and on d2. Cost is |candidates| x
    shingles-per-doc, independent of hot-shingle fan-out and with no
    shuffle of exploded shingles; a pair with an empty intersection has
    Jaccard 0 and drops out. The expression (and so every double) is
    the exhaustive path's: n_inter / (n1 + n2 - n_inter)."""
    s1 = sh.select(F.col("doc_id").alias("d1"), F.col("shingles").alias("s1"))
    s2 = sh.select(F.col("doc_id").alias("d2"), F.col("shingles").alias("s2"))
    n_inter = F.size(F.array_intersect("s1", "s2"))
    jaccard = (n_inter / (F.size("s1") + F.size("s2") - n_inter)).cast("double")
    return (
        cand.join(s1, "d1").join(s2, "d2")
        .select("d1", "d2", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def q_doc_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup: signatures -> banded buckets -> candidate
    pairs -> EXACT Jaccard verification on candidates only. Output
    contract is identical to q_doc_jaccard_pairs (pairs with J >= 0.5),
    which is what the oracle checks; with 64 bands x 2 rows the miss
    probability at J = 0.5 is (1 - 0.25)^64 ~= 1e-8.

    Plan shape: one persisted (doc_id, shingle array) frame; its
    explode feeds the band keys (each shingle hashed ONCE, xxhash64 ->
    pmod p, 128 affine permutations of that hash generated as rows,
    see MINHASH_COEFFS, one GROUP BY (doc_id, band) with two partial
    mins; :func:`minhash_bands_of`), a self-join on (band, band_hash),
    then exact Jaccard on the candidate pairs only, from the same
    arrays (:func:`_verify_candidates`). Everything is built-in
    expressions -- no Python in the hot path."""
    sh = _doc_shingle_arrays(spark, sf_dir)
    return _verify_candidates(sh, _lsh_candidates(sh))


# same contract as the exhaustive query -> same oracle
DOC_MINHASH_LSH_SQL = DOC_JACCARD_PAIRS_SQL


# ---- MinHash accuracy audit (estimated vs exact Jaccard) -------------------

def q_doc_minhash_jaccard_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash ACCURACY AUDIT: for every verified near-dup pair, the
    Jaccard ESTIMATE a pure signature comparison would report (share of
    agreeing minhash values -- the estimator whose concentration makes
    the whole LSH family work) beside the exact Jaccard, with the
    absolute error. This is the text-side twin of the embedding pack's
    ``emb_ann_recall`` harness: the sketch's statistical claim
    (stderr = sqrt(J(1-J)/{MINHASH_HASHES}) ~ 0.044 at J=0.5) becomes a
    measured, oracle-verified column instead of a docstring assertion.

    The audit signatures are md5-BASED (base hash = 48-bit md5 prefix
    mod p, then the same affine MINHASH_COEFFS family), not the
    xxhash64 signatures of the production dedup path: xxhash64 exists
    only JVM-side, while md5 is bit-identical in both engines, so the
    DuckDB oracle reproduces every estimate exactly. The estimator's
    statistics are hash-agnostic (any 2-independent family), so the
    audit's error numbers speak for the production path too.

    Scale shape: signatures are computed ONLY for documents that
    appear in an LSH CANDIDATE pair (broadcast semi-join on the
    candidate-doc ids), so the audit costs O(candidates x
    shingles-per-doc), independent of corpus size; the pair set itself
    comes from the LSH path's banded candidates, never from an
    all-pairs join.

    Plan shape: a signature is one (doc_id, band, h0, h1) row per band,
    from the same generator-fed aggregate as :func:`minhash_bands_of`
    (:func:`_band_signatures`); the two documents' rows are joined on
    ``band`` and ``jaccard_est`` is the count of agreeing values over
    {MINHASH_HASHES}.0. No plan node carries a 128-wide row, so no stage
    ships a MiB-sized task binary."""
    # same pair pipeline as q_doc_minhash_lsh_dedup, sharing THIS
    # persisted shingle-array frame with the signatures below (calling
    # the query would re-scan + re-persist its own copy)
    sh = _doc_shingle_arrays(spark, sf_dir)
    # persisted: the candidate set feeds BOTH the exact-Jaccard verify
    # and the signature doc-id semi-join below.
    cand = _persist_hot(_lsh_candidates(sh))
    pairs = _verify_candidates(sh, cand)
    # r13 OPTIMIZATION (guide §1.2/§2.6): the signature doc set is
    # derived from the CANDIDATE pairs, not the verified pairs. Output
    # rows are identical -- verified pairs are a subset of candidates,
    # and the final inner joins below drop every non-pair signature --
    # but the broadcast doc-id build no longer sits ABOVE the whole
    # verify joins, so (a) the verify chain is referenced once
    # (its r12 persist and the serial barrier it forced are gone) and
    # (b) the signature aggregation runs CONCURRENTLY with the verify
    # chain inside the one output job instead of strictly after it.
    # Candidates that fail verification get a signature they don't
    # need; the candidate set is pair-graph-sized by LSH design
    # (64-band miss math in the module docstring), so the waste is
    # bounded and the r12 scale contract (audit cost independent of
    # corpus size) still holds.
    # The doc ids stay un-deduplicated (a semi-join needs no distinct
    # build side): with an aggregate under it, the optimizer injects a
    # runtime bloom filter from a materialized shingle frame into this
    # side, and the MiB-sized filter then ships in every stage's task
    # binary (seen when q_doc_minhash_lsh_dedup ran first).
    docs = (
        cand.select(F.col("d1").alias("doc_id"))
        .unionByName(cand.select(F.col("d2").alias("doc_id")))
    )
    hp = sh.join(F.broadcast(docs), "doc_id", "left_semi").select(
        "doc_id", F.explode("shingles").alias("shingle")
    ).select(
        "doc_id",
        (
            F.conv(F.substring(F.md5("shingle"), 1, 12), 16, 10)
            .cast("long") % MINHASH_PRIME
        ).alias("sh"),
    )
    # persisted: sig is joined twice below (d1 and d2 sides); without
    # the persist the md5 signature aggregation evaluates once per side
    sig = _persist_hot(_band_signatures(hp))

    def side(doc: str, prefix: str) -> DataFrame:
        return sig.select(
            F.col("doc_id").alias(doc), "band",
            *[F.col(f"h{r}").alias(f"{prefix}{r}")
              for r in range(MINHASH_BAND_ROWS)],
        )

    # every document of a verified pair has a shingle, so both sides
    # have a row for every band and the band join pairs them up exactly
    agree = sum(
        (F.col(f"x{r}") == F.col(f"y{r}")).cast("int")
        for r in range(MINHASH_BAND_ROWS)
    )
    j = (
        pairs.join(side("d1", "x"), "d1")
        .join(side("d2", "y"), ["d2", "band"])
        .groupBy("d1", "d2", "jaccard")
        .agg(F.sum(agree).alias("agree"))
    )
    est = F.col("agree") / F.lit(float(MINHASH_HASHES))
    return j.select(
        "d1", "d2", "jaccard",
        est.alias("jaccard_est"),
        F.round(F.abs(est - F.col("jaccard")), 6).alias("abs_err"),
    )


_MH_HEX_TO_INT = hex_prefix_bigint_sql(12)
_MH_SIG_COLS = ",\n         ".join(
    f"min(({a} * sh + {b}) % {MINHASH_PRIME}) AS h{i}"
    for i, (a, b) in enumerate(MINHASH_COEFFS)
)
# list_sum over a flat list literal: a 128-term "+" chain trips
# duckdb's binder recursion limit (max 128), a list binds flat
_MH_AGREE = "list_sum([" + ", ".join(
    f"CAST(a.h{i} = b.h{i} AS INT)" for i in range(MINHASH_HASHES)
) + "])"

DOC_MINHASH_JACCARD_EST_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), ' +'), x -> x <> '') AS w
  FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(w) < {SHINGLE_K} THEN []::varchar[]
              ELSE list_distinct([array_to_string(w[i:i+{SHINGLE_K - 1}], ' ')
                                  for i in range(1, len(w) - {SHINGLE_K - 2})])
         END AS shingles
  FROM tok
),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         (len(list_intersect(a.shingles, b.shingles))::double
          / (len(a.shingles) + len(b.shingles)
             - len(list_intersect(a.shingles, b.shingles)))) AS jaccard
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE (len(list_intersect(a.shingles, b.shingles))::double
         / (len(a.shingles) + len(b.shingles)
            - len(list_intersect(a.shingles, b.shingles))))
        >= {JACCARD_THRESHOLD}
),
pdocs AS (SELECT d1 AS doc_id FROM pairs UNION SELECT d2 FROM pairs),
hp AS (
  SELECT doc_id, {_MH_HEX_TO_INT} % {MINHASH_PRIME} AS sh
  FROM (
    SELECT s.doc_id, md5(unnest(s.shingles)) AS h
    FROM sh s JOIN pdocs USING (doc_id)
  )
),
sig AS (
  SELECT doc_id,
         {_MH_SIG_COLS}
  FROM hp GROUP BY doc_id
),
e AS (
  SELECT p.d1, p.d2, p.jaccard,
         ({_MH_AGREE}) / {MINHASH_HASHES}.0 AS jaccard_est
  FROM pairs p
  JOIN sig a ON a.doc_id = p.d1
  JOIN sig b ON b.doc_id = p.d2
)
SELECT d1, d2, jaccard, jaccard_est,
       round(abs(jaccard_est - jaccard), 6) AS abs_err
FROM e
"""


# ---- dedup clusters (connected components over near-dup pairs) -------------

def q_doc_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> dedup clusters: connected components over the
    LSH-verified pair graph, every document mapped to its component's
    min doc_id (``cluster_rep``) with ``keep`` marking the canonical
    copy. This is the step that turns pairwise similarity into an
    actual dedup decision (transitive: A~B, B~C dedups C against A even
    when A,C were never a pair).

    The component labeling is the shared connected-components operator
    (operators/connected_components.py -- see its docstring for the
    driver-memory bound); this query feeds it the LSH-verified pair
    graph and left-joins the corpus so singletons keep themselves.
    """
    pairs = q_doc_minhash_lsh_dedup(spark, sf_dir).select("d1", "d2")
    labels = hash_min_components(pairs).withColumnRenamed(
        "node_id", "doc_id"
    )
    docs = _documents(spark, sf_dir).select("doc_id")
    return (
        docs.join(labels, "doc_id", "left")
        .withColumn("cluster_rep", F.coalesce("rep", "doc_id"))
        .select(
            "doc_id",
            "cluster_rep",
            (F.col("cluster_rep") == F.col("doc_id")).alias("keep"),
        )
    )


# Oracle CTE prefix (shared by the clusters oracle and the keep-best
# oracle so the component spelling cannot drift): the exhaustive Jaccard
# pairs (same contract the LSH path is verified against) + transitive
# closure via a recursive CTE, min reachable node = representative.
_DOC_CLUSTERS_CTES = f"""
WITH RECURSIVE tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), ' +'), x -> x <> '') AS w
  FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(w) < {SHINGLE_K} THEN []::varchar[]
              ELSE list_distinct([array_to_string(w[i:i+{SHINGLE_K - 1}], ' ')
                                  for i in range(1, len(w) - {SHINGLE_K - 2})])
         END AS shingles
  FROM tok
),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE (len(list_intersect(a.shingles, b.shingles))::double
         / (len(a.shingles) + len(b.shingles)
            - len(list_intersect(a.shingles, b.shingles)))) >= {JACCARD_THRESHOLD}
),
edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
walk AS (
  SELECT a AS doc_id, a AS reach FROM edges
  UNION
  SELECT w.doc_id, e.b FROM walk w JOIN edges e ON e.a = w.reach
),
comp AS (SELECT doc_id, min(reach) AS cluster_rep FROM walk GROUP BY doc_id)"""

DOC_DEDUP_CLUSTERS_SQL = f"""{_DOC_CLUSTERS_CTES}
SELECT d.doc_id,
       coalesce(c.cluster_rep, d.doc_id) AS cluster_rep,
       coalesce(c.cluster_rep, d.doc_id) = d.doc_id AS keep
FROM documents d LEFT JOIN comp c USING (doc_id)
"""


# ---- keep-best-per-cluster (dedup decision x quality signal) ---------------

def q_doc_dedup_keep_best(
    spark: SparkSession, sf_dir: str, quality: DataFrame | None = None
) -> DataFrame:
    """The actual dedup DECISION a training pipeline ships: within each
    near-dup cluster keep the highest-quality member (longest token
    count, doc_id as the tie-break), not the arbitrary min-id one.

    Composition of two existing operators -- connected-component
    clusters x the quality signal -- plus one rank-1 window per cluster.
    The window key is the cluster representative; near-dup clusters are
    tiny (2-5 docs), so the window sees bounded groups no matter how
    large the corpus, and singleton docs (the overwhelming majority)
    pass through with keep=true. One extra shuffle on cluster_rep over
    the cluster-member subset only.

    ``n_tokens`` is q_doc_quality's token count, ``size(_tokens(text))``,
    taken straight from the documents scan: one projection, no second
    quality pass. ``quality`` lets a composing query (doc_corpus_build)
    inject the quality frame it already holds instead."""
    if quality is None:
        quality = _documents(spark, sf_dir).select(
            "doc_id", F.size(_tokens(F.col("text"))).alias("n_tokens")
        )
    clusters = q_doc_dedup_clusters(spark, sf_dir).select(
        "doc_id", "cluster_rep"
    )
    j = clusters.join(quality.select("doc_id", "n_tokens"), "doc_id")
    w = Window.partitionBy("cluster_rep").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id").asc()
    )
    return (
        j.withColumn("rk", F.row_number().over(w))
        .select("doc_id", "cluster_rep", "n_tokens",
                (F.col("rk") == 1).alias("keep"))
    )


DOC_DEDUP_KEEP_BEST_SQL = f"""{_DOC_CLUSTERS_CTES},
labeled AS (
  SELECT d.doc_id,
         coalesce(c.cluster_rep, d.doc_id) AS cluster_rep,
         len(list_filter(string_split_regex(lower(trim(d.text)), ' +'),
                         x -> x <> '')) AS n_tokens
  FROM documents d LEFT JOIN comp c USING (doc_id)
)
SELECT doc_id, cluster_rep, n_tokens,
       ROW_NUMBER() OVER (PARTITION BY cluster_rep
                          ORDER BY n_tokens DESC, doc_id ASC) = 1 AS keep
FROM labeled
"""


# ---- n-gram document frequency (vocabulary building) -----------------------

TOP_NGRAMS = 100


def q_doc_ngram_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_NGRAMS} 3-gram shingles by document frequency -- the
    corpus-wide vocabulary statistic (tokenizer training, stopword-list
    induction, boilerplate detection all start here).

    One explode + one count aggregation (map-side combinable; shingles
    are distinct per doc so the count IS document frequency), then a
    deterministic top-k (df DESC, ngram ASC) that Spark executes as
    TakeOrderedAndProject -- per-partition heaps, no global sort. At
    100 TB the agg shuffles (ngram, partial-count) pairs only; the
    bounded top-k never materializes the full vocabulary on one node."""
    ex = _doc_shingles_exploded(spark, sf_dir)
    return (
        ex.groupBy(F.col("shingle").alias("ngram"))
        .agg(F.count("*").alias("df"))
        .orderBy(F.col("df").desc(), F.col("ngram").asc())
        .limit(TOP_NGRAMS)
    )


DOC_NGRAM_DF_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), ' +'), x -> x <> '') AS w
  FROM documents
),
sh AS (
  SELECT doc_id,
         CASE WHEN len(w) < {SHINGLE_K} THEN []::varchar[]
              ELSE list_distinct([array_to_string(w[i:i+{SHINGLE_K - 1}], ' ')
                                  for i in range(1, len(w) - {SHINGLE_K - 2})])
         END AS shingles
  FROM tok
)
SELECT ngram, count(*) AS df
FROM (SELECT unnest(shingles) AS ngram FROM sh)
GROUP BY 1
ORDER BY df DESC, ngram ASC
LIMIT {TOP_NGRAMS}
"""


# ---- sequence packing (context-window binning) ------------------------------

PACK_WINDOW = 2048
PACK_SHARDS = 16


def q_doc_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sequence packing: assign documents to {PACK_WINDOW}-token
    context windows by running token total WITHIN a shard -- the batching
    step that turns a deduped corpus into fixed-length training rows.

    Scale shape: a single global running total would need a one-partition
    window (the classic scale wall), so packing is shard-local --
    ``doc_id % {PACK_SHARDS}`` buckets, one cumulative-sum window per
    shard, pack key = (shard, floor(preceding_tokens / window)). Shards
    pack independently and in parallel exactly like a real pipeline's
    per-worker packers; a doc straddling a boundary spills into its
    starting pack (documented streaming-packer behavior -- the trainer
    truncates or rolls the tail). Deterministic: shard and order are
    pure functions of doc_id."""
    d = _documents(spark, sf_dir).select(
        "doc_id", F.size(_tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    sharded = d.withColumn("shard", F.col("doc_id") % PACK_SHARDS)
    w = Window.partitionBy("shard").orderBy("doc_id")
    cum = F.sum("n_tokens").over(w)
    return sharded.select(
        "doc_id", "shard", "n_tokens",
        cum.alias("cum_tokens"),
        F.floor((cum - F.col("n_tokens")) / F.lit(PACK_WINDOW)).alias("pack_id"),
    )


DOC_SEQ_PACKING_SQL = f"""
WITH d AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(lower(trim(text)), ' +'),
                         x -> x <> ''))::BIGINT AS n_tokens,
         doc_id % {PACK_SHARDS} AS shard
  FROM documents
)
SELECT doc_id, shard, n_tokens,
       -- CAST: DuckDB sum(BIGINT) is HUGEINT, which degrades to
       -- float64/object through a pandas/Arrow fetch and hash-mismatches
       -- Spark's BIGINT (same trap as corpus_queries.py CAST convention).
       CAST(sum(n_tokens) OVER w AS BIGINT) AS cum_tokens,
       CAST(floor((sum(n_tokens) OVER w - n_tokens)
                  / {PACK_WINDOW}) AS BIGINT) AS pack_id
FROM d
WINDOW w AS (PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
"""


# ---- sequence packing on TRUE BPE budgets ----------------------------------

def q_doc_bpe_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing budgeted on TRUE BPE token counts (the pinned
    merges fixture, functions/bpe.py) instead of the whitespace
    estimate :func:`q_doc_seq_packing` keys on. The r11 verdict's
    point made executable: the regex/whitespace estimator drifts
    against the real tokenizer NON-UNIFORMLY across documents (merge
    compression depends on content), so packs budgeted on estimates
    overflow or underfill real context windows -- this query is the
    packer a training pipeline would actually run once it has a
    tokenizer.

    Plan shape = the counts-only BPE kernel (one ``mapInPandas`` pass,
    zero exchange, no per-doc digest work -- column pruning cannot
    reach inside a kernel, so the pruning is done by choosing the
    kernel) followed by the same shard-local cumulative-sum window as
    the estimator-based packer: ``doc_id % {PACK_SHARDS}`` shards,
    one window per shard, no global ordering anywhere. At 100 TB the
    encode pass is embarrassingly parallel and the window shuffles
    once on the shard key."""
    # kernel=True: row-aware split width (guide §4.2, r13; see
    # q_doc_bpe_encode)
    d = _documents(spark, sf_dir, kernel=True).select("doc_id", "text")
    counted = d.mapInPandas(
        bpe_count_batches, "doc_id bigint, n_tokens bigint"
    )
    sharded = counted.withColumn("shard", F.col("doc_id") % PACK_SHARDS)
    w = Window.partitionBy("shard").orderBy("doc_id")
    cum = F.sum("n_tokens").over(w)
    return sharded.select(
        "doc_id", "shard", "n_tokens",
        cum.alias("cum_tokens"),
        F.floor((cum - F.col("n_tokens")) / F.lit(PACK_WINDOW)).alias("pack_id"),
    )


# counts CTE = the encode oracle's chain with the digest aggregation
# swapped for a count; the merge machinery is _BPE_CTE_BODY verbatim
DOC_BPE_SEQ_PACKING_SQL = f"""
WITH RECURSIVE {_BPE_CTE_BODY},
counts AS (
  SELECT pt.doc_id, CAST(sum(len(d.syms)) AS BIGINT) AS n_tokens
  FROM pt JOIN done d USING (tok)
  GROUP BY pt.doc_id
),
sharded AS (
  SELECT x.doc_id,
         CAST(coalesce(c.n_tokens, 0) AS BIGINT) AS n_tokens,
         x.doc_id % {PACK_SHARDS} AS shard
  FROM documents x LEFT JOIN counts c USING (doc_id)
)
SELECT doc_id, shard, n_tokens,
       CAST(sum(n_tokens) OVER w AS BIGINT) AS cum_tokens,
       CAST(floor((sum(n_tokens) OVER w - n_tokens)
                  / {PACK_WINDOW}) AS BIGINT) AS pack_id
FROM sharded
WINDOW w AS (PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
"""


# ---- decontamination (train/test n-gram overlap) ---------------------------

def q_doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag TRAIN-split documents sharing at
    least one {SHINGLE_K}-gram with ANY TEST-split document -- the
    n-gram overlap check every serious pretraining pipeline runs against
    held-out evaluation sets before training.

    Plan shape: the deterministic md5 split is a PURE PROJECTION of
    doc_id, so it is inlined as a column on the shingle stream (the
    pre-r10 shape paid a doc-keyed join of the corpus-sized shingle
    table against a split frame just to attach a value computable in
    place). Test-side shingles are the SMALL side, so the overlap
    join BROADCASTS them -- the train shingle stream is probed
    map-side and never shuffles on the shingle key (the r10 fix for
    the growing 10x/20x ratio: the shuffle it removes is the only
    corpus-sized exchange the query had). Scale caveat: HERE the
    "benchmark" is the corpus's own md5 test split (the
    driver-checkable stand-in), so the broadcast side is
    corpus-proportional (~1/8 of distinct shingles) -- a FORCED hint
    would bypass Spark's size threshold and turn into a driver OOM at
    large SFs instead of a graceful shuffle fallback. The hint is
    therefore GATED on the source table's on-disk size
    (DECONTAM_BROADCAST_MAX_BYTES, an order of magnitude above the
    largest measured scale-proof corpus; test-side shingle bytes are
    ~K/8 x the text bytes, so the gated broadcast stays well under
    driver memory): small/measured SFs keep the measured broadcast
    plan, larger or remote (size-unknown) sources let AQE pick the
    strategy at runtime. The per-doc contaminated count is a
    distinct-agg over matched shingles only, with per-doc partials
    completing map-side because each doc's shingles explode inside one
    partition."""
    first_hex = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    is_train = first_hex.isin(*TRAIN_HEX)
    ex = _persist_hot(
        _doc_shingles_exploded(spark, sf_dir).withColumn("tr", is_train)
    )
    train = ex.filter(F.col("tr")).select("doc_id", "shingle")
    test_sh = ex.filter(~F.col("tr")).select("shingle").distinct()
    src_bytes = _source_bytes(table_path(sf_dir, "documents"))
    if 0 <= src_bytes <= DECONTAM_BROADCAST_MAX_BYTES:
        test_sh = F.broadcast(test_sh)
    hits = (
        train.join(test_sh, "shingle")
        .groupBy("doc_id")
        .agg(F.count_distinct("shingle").alias("n_contaminated_shingles"))
    )
    split = q_doc_train_test_split(spark, sf_dir)
    return (
        split.filter(F.col("split") == "train")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_contaminated_shingles", F.lit(0))
             .alias("n_contaminated_shingles"),
            (F.coalesce("n_contaminated_shingles", F.lit(0)) > 0)
            .alias("contaminated"),
        )
    )


DOC_DECONTAMINATE_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), ' +'), x -> x <> '') AS w
  FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(CASE WHEN len(w) < {SHINGLE_K} THEN []::varchar[]
                     ELSE list_distinct([array_to_string(w[i:i+{SHINGLE_K - 1}], ' ')
                                         for i in range(1, len(w) - {SHINGLE_K - 2})])
                END) AS shingle
  FROM tok
),
spl AS (
  SELECT doc_id,
         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                   IN {TRAIN_HEX!r} THEN 'train' ELSE 'test' END AS split
  FROM documents
),
test_sh AS (
  SELECT DISTINCT sh.shingle
  FROM sh JOIN spl USING (doc_id) WHERE spl.split = 'test'
),
hits AS (
  SELECT sh.doc_id, count(DISTINCT sh.shingle) AS n_contaminated_shingles
  FROM sh JOIN spl USING (doc_id) JOIN test_sh USING (shingle)
  WHERE spl.split = 'train'
  GROUP BY 1
)
SELECT s.doc_id,
       coalesce(h.n_contaminated_shingles, 0) AS n_contaminated_shingles,
       coalesce(h.n_contaminated_shingles, 0) > 0 AS contaminated
FROM spl s LEFT JOIN hits h USING (doc_id)
WHERE s.split = 'train'
"""


# ---- per-doc TF-IDF top terms ----------------------------------------------

TFIDF_TOPK = 3


def q_doc_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TFIDF_TOPK} TF-IDF terms per document -- the canonical
    keyword-extraction / relevance primitive. tf = in-doc term count,
    idf = ln(N/df) with df from the same aggregation chain, score
    rounded to 6 places BEFORE ranking so the two engines' last-ulp
    ``ln`` differences can neither flip ranks nor fail the value hash;
    term ASC breaks exact ties.

    Plan shape: tokenize -> (doc_id, tok) count agg -> tok-keyed df agg
    joined back -> one per-doc top-k window. Both aggregations combine
    map-side; the df side is vocabulary-sized (shuffles far less than
    the token stream), and the corpus count joins in as a broadcast
    scalar. At 100 TB the df table is the classic shared dimension --
    computed once, reused by every batch."""
    d = _documents(spark, sf_dir)
    toks = d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n_docs = d.agg(F.count("*").alias("n"))
    scored = (
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(F.col("tf") * F.log(F.col("n") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("tok").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TFIDF_TOPK)
        .select("doc_id", F.col("tok").alias("term"), "tf", "df", "score",
                F.col("rk").cast("long").alias("rk"))
    )


DOC_TFIDF_TOPK_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(trim(text)), ' +'),
                            x -> x <> '')) AS tok
  FROM documents
),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df,
         round(tf.tf * ln(n.n::DOUBLE / dfreq.df), 6) AS score
  FROM tf JOIN dfreq USING (tok) CROSS JOIN n
)
SELECT doc_id, tok AS term, tf, df, score, rk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, tok ASC) AS rk
  FROM scored
)
WHERE rk <= {TFIDF_TOPK}
"""


# ---- end-to-end corpus build (quality x dedup x lang x split) --------------

def q_doc_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-corpus selection a data pipeline ships, as ONE
    DataFrame: per document its detected language, train/test split,
    token count, near-dup cluster representative, and a ``selected``
    flag = passes the quality filter AND is its cluster's keep-best
    member. Composes four existing operators by doc_id equi-joins --
    every constituent is itself oracle-checked, and this query checks
    the COMPOSITION (join alignment, flag conjunction) end-to-end.

    Scale: all four inputs and the joins key on doc_id, so one
    hash-partitioning serves the whole assembly; the only non-projection
    constituents are the dedup pipeline (LSH-bounded) and the component
    labeling (pair-graph-sized). At 100 TB each constituent would be a
    materialized mart and this becomes a co-partitioned mart join."""
    # r12 OPTIMIZATION: ONE quality pass. The previous composition ran
    # q_doc_quality twice (once for the keep flag here, once inside
    # keep_best for n_tokens) -- two full tokenize passes over the
    # corpus (guide §1.2: don't compute things twice). The shared frame
    # is persisted and materialized from a side thread while the dedup
    # chain's jobs block the main thread (guide §2.6).
    shared_q = _persist_hot(
        q_doc_quality(spark, sf_dir).select("doc_id", "n_tokens", "keep")
    )
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=1) as pool:

        def _materialize() -> None:
            spark.sparkContext.setJobDescription("doc_corpus_build: quality pass")
            shared_q.count()

        fut = pool.submit(inheritable_thread_target(spark)(_materialize))
        dedup = q_doc_dedup_keep_best(spark, sf_dir, quality=shared_q).select(
            "doc_id", "cluster_rep", "n_tokens", F.col("keep").alias("dedup_keep")
        )
        fut.result()
    quality = shared_q.select("doc_id", F.col("keep").alias("quality_keep"))
    lang = q_doc_lang_id(spark, sf_dir).select("doc_id", "pred_lang")
    split = q_doc_train_test_split(spark, sf_dir)
    return (
        quality.join(dedup, "doc_id")
        .join(lang, "doc_id")
        .join(split, "doc_id")
        .select(
            "doc_id", "pred_lang", "split", "n_tokens", "cluster_rep",
            (F.col("quality_keep") & F.col("dedup_keep")).alias("selected"),
        )
    )


DOC_CORPUS_BUILD_SQL = f"""{_DOC_CLUSTERS_CTES},
labeled AS (
  SELECT d.doc_id,
         coalesce(c.cluster_rep, d.doc_id) AS cluster_rep,
         len(list_filter(string_split_regex(lower(trim(d.text)), ' +'),
                         x -> x <> '')) AS n_tokens
  FROM documents d LEFT JOIN comp c USING (doc_id)
),
dedup AS (
  SELECT doc_id, cluster_rep, n_tokens,
         ROW_NUMBER() OVER (PARTITION BY cluster_rep
                            ORDER BY n_tokens DESC, doc_id ASC) = 1 AS dedup_keep
  FROM labeled
),
qt AS (
  SELECT doc_id, text, trim(text) AS t,
         list_filter(string_split_regex(lower(trim(text)), ' +'), x -> x <> '') AS w
  FROM documents
),
qual AS (
  SELECT doc_id,
         (len(w) >= 10 AND len(w) <= 100000
          AND (len(list_filter(w, x -> list_contains({EN_STOPWORDS!r}, x)))
               / greatest(len(w), 1))::double > 0.0
          AND (length(regexp_replace(lower(t), '[a-z0-9 ]', '', 'g'))
               / greatest(length(t), 1))::double < 0.3) AS quality_keep
  FROM qt
),
lang AS (
  SELECT doc_id,
         CASE
           WHEN length(regexp_replace(text, '[^\\x{{4E00}}-\\x{{9FFF}}]', '', 'g')) > 0 THEN 'zh'
           WHEN greatest(ve, vf, vd, vs) = 0 THEN 'und'
           WHEN ve = greatest(ve, vf, vd, vs) THEN 'en'
           WHEN vf = greatest(ve, vf, vd, vs) THEN 'fr'
           WHEN vd = greatest(ve, vf, vd, vs) THEN 'de'
           ELSE 'es'
         END AS pred_lang
  FROM (
    SELECT doc_id, text,
           {_lang_vote_sql('en')} AS ve,
           {_lang_vote_sql('fr')} AS vf,
           {_lang_vote_sql('de')} AS vd,
           {_lang_vote_sql('es')} AS vs
    FROM qt
  )
),
spl AS (
  SELECT doc_id,
         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                   IN {TRAIN_HEX!r} THEN 'train' ELSE 'test' END AS split
  FROM documents
)
SELECT q.doc_id, l.pred_lang, s.split, d.n_tokens, d.cluster_rep,
       (q.quality_keep AND d.dedup_keep) AS selected
FROM qual q
JOIN dedup d USING (doc_id)
JOIN lang l USING (doc_id)
JOIN spl s USING (doc_id)
"""


# ---- SimHash (fingerprint; portable hash -> full SQL oracle) ---------------

SIMHASH_BITS = 60


def _portable_hash60(col):
    """60-bit token hash both engines compute identically: the first 15
    hex chars of md5, parsed base-16. Spark spells it
    ``conv(substr(md5(x),1,15),16,10)``; DuckDB
    ``('0x' || substr(md5(x),1,15))::BIGINT`` -- verified equal. md5 is
    ~3x the cost of xxhash64, which is fine here (one hash per token);
    the MinHash path keeps xxhash64 because its cost IS the query."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _simhash_from_tokens(toks: DataFrame) -> DataFrame:
    """(doc_id, tok) -> (doc_id, simhash): per bit, sum +1/-1 by the
    token-hash bit, sign -> fingerprint bit. One groupBy(doc_id) with 60
    conditional sums (map-side partial agg), then reassembly -- all
    built-ins, no UDF. 60 bits keep the fingerprint a positive long.

    r12 OPTIMIZATION: composed as ONE ``spark.sql`` template instead of
    120 conditional-sum/reassembly Columns -- the Column spelling cost
    ~1.3 s of driver time per compose (py4j round-trips; guide §1.2
    applied to the driver). Identical rows."""
    hashed = toks.withColumn("th", _portable_hash60(F.col("tok")))
    sums = ", ".join(
        f"sum(CASE WHEN (shiftright(th, {i}) & 1) = 1 THEN 1 ELSE -1 END)"
        f" AS b{i}"
        for i in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"CAST(CASE WHEN b{i} > 0 THEN 1 ELSE 0 END AS BIGINT) * {1 << i}L"
        for i in range(SIMHASH_BITS)
    )
    return hashed.sparkSession.sql(
        f"""
        WITH bit_sums AS (SELECT doc_id, {sums} FROM {{hashed}} GROUP BY doc_id)
        SELECT doc_id, {fp} AS simhash FROM bit_sums
        """,
        hashed=hashed,
    )


def q_doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints over whitespace tokens. Hamming-ball
    candidate search works by banding the 60 bits into 4x15-bit keys;
    locality (near-dup pairs land at small hamming distance) is
    unit-tested in tests/test_text.py. The token hash is the portable
    md5-derived 60-bit value, so the DuckDB oracle reproduces the exact
    fingerprints (hash-match, not just rows-only)."""
    d = _documents(spark, sf_dir)
    return _simhash_from_tokens(
        d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
    )


# Shared CTE text ending in ``sh(doc_id, simhash)`` -- used by both the
# fingerprint oracle and the banded near-dup oracle so the simhash
# spelling cannot drift between them.
_DOC_SIMHASH_CTES = f"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(trim(text)), ' +'),
                            x -> x <> '')) AS tok
  FROM documents
),
h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS th FROM tok
),
bits AS (
  SELECT doc_id,
         {', '.join(f"sum(CASE WHEN (th >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
                    for i in range(SIMHASH_BITS))}
  FROM h GROUP BY doc_id
),
sh AS (
  SELECT doc_id,
         {' + '.join(f"(CASE WHEN b{i} > 0 THEN 1 ELSE 0 END)::BIGINT * {1 << i}"
                     for i in range(SIMHASH_BITS))} AS simhash
  FROM bits
)"""

DOC_SIMHASH_SQL = f"""{_DOC_SIMHASH_CTES}
SELECT doc_id, simhash FROM sh
"""


# ---- SimHash banded near-dup pairs ----------------------------------------

SIMHASH_BANDS = 4
SIMHASH_HAM_MAX = 3


def q_doc_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, banded for scale.

    The 60-bit fingerprint is split into 4 x 15-bit band keys; candidate
    pairs are (band, key) equi-join collisions, verified with the exact
    ``bit_count(s1 XOR s2) <= {SIMHASH_HAM_MAX}`` hamming test. The
    pigeonhole guarantee makes banding LOSSLESS here -- a pair within
    hamming {SIMHASH_HAM_MAX} differs in at most {SIMHASH_HAM_MAX} of 4
    bands, so at least one band key matches exactly and recall vs a full
    O(n^2) hamming scan is 1.0, not probabilistic (unlike MinHash bands).
    Cost shape is the standard LSH one: one shuffle on (band, key), work
    proportional to per-bucket collisions; both join sides are the same
    aggregation subplan, so Spark's exchange reuse computes the
    fingerprints once."""
    bits_per = SIMHASH_BITS // SIMHASH_BANDS
    d = _documents(spark, sf_dir)
    # persisted: the fingerprint table feeds both self-join sides; the
    # sides alias differently so exchange reuse does not collapse them
    # and the token-explode + 60-bit-sum aggregation ran once per side
    # (guide §1.2). 16 bytes/doc.
    sh = _persist_hot(_simhash_from_tokens(
        d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
    ))
    banded = sh.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * bits_per)
                 .bitwiseAND(F.lit((1 << bits_per) - 1)).alias("key"),
            )
            for b in range(SIMHASH_BANDS)
        ])).alias("bk"),
    ).select("doc_id", "simhash", F.col("bk.band").alias("band"),
             F.col("bk.key").alias("key"))
    left = banded.select(F.col("doc_id").alias("d1"),
                         F.col("simhash").alias("s1"), "band", "key")
    right = banded.select(F.col("doc_id").alias("d2"),
                          F.col("simhash").alias("s2"), "band", "key")
    # hamming filter BEFORE the pair dedup: the test is a pure function
    # of the pair, so the order cannot change the surviving set -- but it
    # moves the filter to the map side of the distinct's shuffle. This
    # matters because SimHash band keys are low-entropy on vocabulary-
    # correlated corpora (common-token weight dominates the bit sums):
    # measured at sf0.1 the 4 bands produce ~32M colliding candidate
    # rows that reduce to 13 true pairs -- deduping first would shuffle
    # all 32M, filtering first shuffles dozens. Scale measured on a
    # decorrelated amplified corpus (tools/scale_proof.py, per-copy
    # Caesar-translated so only within-copy near-dup structure
    # survives): 1.85x the DuckDB comparator at 10x and 1.19x at 20x,
    # i.e. the banded join amortizes toward inversion as data grows.
    # A recursive sub-banding refinement (split the complement 45 bits
    # into 4 sub-bands, join on the ~27-bit compound key; still
    # lossless by double pigeonhole) was measured and is SLOWER at
    # these scales (16x fingerprint explode outweighs bucket savings);
    # it becomes the right move only if a (band, key) bucket ever goes
    # truly degenerate at 100 TB.
    return (
        left.join(right, ["band", "key"])
        .filter(F.col("d1") < F.col("d2"))
        .select(
            "d1", "d2",
            F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
             .cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_HAM_MAX)
        .dropDuplicates(["d1", "d2"])
    )


DOC_SIMHASH_NEARDUP_SQL = f"""{_DOC_SIMHASH_CTES},
banded AS (
  SELECT doc_id, simhash, t.band,
         (simhash >> (t.band * {SIMHASH_BITS // SIMHASH_BANDS}))
           & {(1 << (SIMHASH_BITS // SIMHASH_BANDS)) - 1} AS key
  FROM sh CROSS JOIN (SELECT unnest(range(0, {SIMHASH_BANDS})) AS band) t
),
cand AS (
  -- hamming predicate inside the candidate join (same early-filter
  -- ordering as the Spark plan; the DISTINCT then sees only survivors)
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                  a.simhash AS s1, b.simhash AS s2
  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id
    AND bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_HAM_MAX}
)
SELECT d1, d2, bit_count(xor(s1, s2))::BIGINT AS hamming
FROM cand
"""


# ---- deterministic stratified sampling ------------------------------------

STRATA_SAMPLE_K = 25


def q_doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: up to {STRATA_SAMPLE_K} docs per
    language, drawn by ranking on ``md5(doc_id)`` within each stratum.

    The md5 rank is a reproducible uniform draw -- every engine (and
    every rerun, any partitioning) picks the same rows, unlike
    ``DataFrame.sample`` whose output depends on partition layout. This
    is the language-balancing step of a training-data pipeline: one
    shuffle on the stratum key, a rank-k window per stratum (partial
    top-k sort per partition), no full sort of the corpus. At 100 TB
    the same plan holds; if one language dominates, the stratum key is
    salted and per-salt quotas merged (same idiom as skewed groupBy)."""
    d = _documents(spark, sf_dir).select("doc_id", "lang", "source", "n_chars")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    return (
        d.withColumn("draw_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("draw_rank") <= STRATA_SAMPLE_K)
        .select("doc_id", "lang", "source", "n_chars", "draw_rank")
    )


DOC_STRATIFIED_SAMPLE_SQL = f"""
SELECT doc_id, lang, source, n_chars, draw_rank
FROM (
  SELECT doc_id, lang, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC,
                                     doc_id ASC)::BIGINT AS draw_rank
  FROM documents
)
WHERE draw_rank <= {STRATA_SAMPLE_K}
"""


# ---- paragraph-level (sub-document) dedup ---------------------------------

PARA_TOKENS = 10


def q_doc_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide PARAGRAPH dedup (the CCNet/Dolma sub-document pass):
    boilerplate repeated across documents -- headers, footers, license
    blocks, templated intros -- survives document-level dedup, so
    production pipelines also dedup at paragraph granularity: every
    distinct paragraph keeps its FIRST occurrence (min (doc_id, idx))
    and every other copy is dropped; documents are reassembled from
    their surviving paragraphs in original order.

    The synthetic corpus has no paragraph breaks, so a "paragraph" is a
    deterministic {PARA_TOKENS}-token window (the same fixed-window
    convention both engines can spell exactly); on real data the
    chunker swaps for split-on-blank-line without touching the dedup.

    Scale shape: chunking is map-only array ops on the token array (no
    explode-then-regroup); ONE map-side-combinable agg elects every
    winner -- ``groupBy(para).agg(min(struct(doc_id, idx)))`` keyed on
    the exact paragraph text, so a boilerplate paragraph repeated
    across millions of documents collapses to ONE row per input
    partition BEFORE the exchange (partial min), bounding both shuffle
    volume and per-task state in precisely the duplicate-heavy regime
    this operator targets. Keying on the text (not a hash of it) also
    deletes the collision fallback outright: the group key IS the
    dedup identity. Two earlier shapes both lost to this one: the
    groupBy(xxhash64) + broadcast-semi-join form paid a second full
    tokenize+explode pass to re-resolve ~zero colliding hashes, and a
    row_number window over the hash funneled EVERY copy of a hot
    paragraph -- full text included -- into one window partition (no
    partial aggregation under windows), the classic hot-key straggler
    at 100 TB. Reassembly groups the kept paragraphs by doc_id. Two
    corpus-wide shuffles total, nothing quadratic anywhere."""
    d = _documents(spark, sf_dir)
    arr = _tokens(F.col("text"))
    n_paras = F.ceil(F.size(arr) / F.lit(PARA_TOKENS))
    chunk_structs = F.when(F.size(arr) > 0, F.transform(
        F.sequence(F.lit(0), (n_paras - 1).cast("int")),
        lambda i: F.struct(
            i.alias("idx"),
            F.array_join(
                F.slice(arr, i * PARA_TOKENS + 1, PARA_TOKENS), " "
            ).alias("para"),
        ),
    )).otherwise(F.array().cast("array<struct<idx:int,para:string>>"))
    chunks = (
        d.select("doc_id", F.explode(chunk_structs).alias("c"))
        .select("doc_id", F.col("c.idx").alias("idx"), F.col("c.para").alias("para"))
    )
    kept = (
        chunks.groupBy("para")
        .agg(F.min(F.struct("doc_id", "idx")).alias("w"))
        .select(F.col("w.doc_id").alias("doc_id"),
                F.col("w.idx").alias("idx"), "para")
    )
    reassembled = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "para"))),
                lambda x: x["para"],
            ),
            " ",
        ).alias("text_dedup"),
        F.count("*").cast("long").alias("n_kept"),
    )
    return (
        d.select("doc_id", n_paras.cast("long").alias("n_paras"))
        .join(reassembled, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
            "n_paras",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )


DOC_PARAGRAPH_DEDUP_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), ' +'),
                     x -> x <> '') AS l
  FROM documents
),
idxed AS (
  SELECT doc_id, l,
         unnest(range(0, CAST(ceil(len(l) / {PARA_TOKENS}.0) AS BIGINT)))
           AS idx
  FROM tok
),
chunks AS (
  SELECT doc_id, idx,
         array_to_string(
           l[idx * {PARA_TOKENS} + 1 : idx * {PARA_TOKENS} + {PARA_TOKENS}],
           ' ') AS para
  FROM idxed
),
kept AS (
  SELECT doc_id, idx, para FROM (
    SELECT *, row_number() OVER (PARTITION BY para ORDER BY doc_id, idx)
              AS rn
    FROM chunks
  ) WHERE rn = 1
),
agg AS (
  SELECT doc_id,
         string_agg(para, ' ' ORDER BY idx) AS text_dedup,
         CAST(count(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY 1
)
SELECT t.doc_id,
       coalesce(a.text_dedup, '') AS text_dedup,
       CAST(ceil(len(t.l) / {PARA_TOKENS}.0) AS BIGINT) AS n_paras,
       CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept
FROM tok t LEFT JOIN agg a USING (doc_id)
"""


# ---- token-window chunking (RAG / pretraining context prep) ----------------

CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def q_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking: every document is cut into
    CHUNK_TOKENS-token windows starting at multiples of CHUNK_STRIDE
    (25% overlap), the standard context-preparation step for RAG
    indexing and fixed-window pretraining. One row per (doc, chunk)
    with a stable chunk_idx, the chunk's token count, and its text.
    Zero-token documents emit no chunks, and a trailing window that
    would be FULLY CONTAINED in the previous chunk (start within
    W - S of the end) is dropped — it would duplicate already-emitted
    content verbatim, an indexing/training waste with no coverage gain.

    Scale shape: tokenize + sequence + explode + slice are all
    PER-ROW expressions -- the whole operator is one map-side pass
    over the scan with NO exchange anywhere (the best possible plan at
    100 TB: output partitioning inherits the scan's). The explode
    multiplies rows ~n_toks/stride x but happens inside the task,
    streaming, never through a shuffle."""
    d = _documents(spark, sf_dir)
    base = (
        d.select("doc_id", _tokens(F.col("text")).alias("toks"))
        .withColumn("n_toks", F.size("toks"))
        .filter(F.col("n_toks") > 0)
    )
    # last admissible start: beyond n_toks - (W - S) - 1 the window is
    # a strict suffix of the previous one (fully contained); greatest
    # keeps start 0 for short docs
    starts = F.sequence(
        F.lit(0),
        F.greatest(
            F.lit(0),
            F.col("n_toks") - F.lit(CHUNK_TOKENS - CHUNK_STRIDE) - 1,
        ),
        F.lit(CHUNK_STRIDE),
    )
    return (
        base.select("doc_id", "toks", "n_toks",
                    F.explode(starts).alias("start"))
        .select(
            "doc_id",
            (F.col("start") / CHUNK_STRIDE).cast("long").alias("chunk_idx"),
            F.least(F.lit(CHUNK_TOKENS), F.col("n_toks") - F.col("start"))
            .cast("long").alias("n_chunk_tokens"),
            F.concat_ws(
                " ",
                F.slice(F.col("toks"), F.col("start") + 1,
                        F.lit(CHUNK_TOKENS)),
            ).alias("chunk_text"),
        )
    )


DOC_CHUNK_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), ' +'),
                     x -> x <> '') AS toks
  FROM documents
),
b AS (SELECT doc_id, toks, len(toks) AS n_toks FROM t WHERE len(toks) > 0),
s AS (
  -- trailing fully-contained windows dropped (see the Spark builder)
  SELECT doc_id, toks, n_toks,
         unnest(generate_series(
           0, greatest(0, n_toks - {CHUNK_TOKENS - CHUNK_STRIDE} - 1),
           {CHUNK_STRIDE})) AS st
  FROM b
)
SELECT doc_id,
       CAST(st // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
       CAST(least({CHUNK_TOKENS}, n_toks - st) AS BIGINT) AS n_chunk_tokens,
       array_to_string(list_slice(toks, st + 1, st + {CHUNK_TOKENS}), ' ')
         AS chunk_text
FROM s
"""


# ---- exact-substring span dedup (Lee et al. '22 style) ---------------------

SPAN_K = 8


def q_doc_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring SPAN dedup (the "Deduplicating Training Data
    Makes Language Models Better" pass, shingle-approximated): a
    duplicated span of >= SPAN_K tokens keeps its FIRST occurrence
    (min (doc_id, start)) and every other occurrence is EXCISED from
    its document -- finer than document/paragraph dedup, catching
    repeated quotes, licenses, and templated sentences embedded in
    otherwise-distinct documents. A position is excised iff some
    K-shingle covering it has an earlier identical occurrence anywhere
    in the corpus; documents come back reassembled from their surviving
    tokens with an n_removed audit count.

    Scale shape: shingling is map-side array ops; the winner election
    is a TWO-PHASE row_number keyed on the exact shingle text (phase 1
    over (s, input partition) -- skew-spread, local non-winners final
    immediately; phase 2 over the <= n_partitions local winners per
    shingle -- see the inline comment), so no hash-collision fallback
    exists and no window task ever holds a hot shingle's full copy
    set; excised positions regroup per doc (dup-occurrence-sized, far
    below corpus scale) and the token filter is map-side. Nothing
    quadratic; the only corpus-wide shuffles are the (s, pid) election
    exchange and the final doc_id join."""
    d = _documents(spark, sf_dir)
    arr = _tokens(F.col("text"))
    base = d.select("doc_id", arr.alias("toks")) \
        .withColumn("n", F.size("toks"))
    spans = (
        base.filter(F.col("n") >= SPAN_K)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.col("n") - SPAN_K),
                    lambda i: F.struct(
                        i.cast("int").alias("i"),
                        F.array_join(
                            F.slice(F.col("toks"), i + 1, SPAN_K), " "
                        ).alias("s"),
                    ),
                )
            ).alias("c"),
        )
        .select("doc_id", F.col("c.i").alias("i"), F.col("c.s").alias("s"))
    )
    # TWO-PHASE winner election keyed on the EXACT shingle text,
    # skew-spread (non-winners are what this operator needs, so a
    # map-side-combinable min-agg alone cannot produce the verdicts;
    # the two-phase window is the skew-safe spelling of per-row
    # verdicts). Phase 1 ranks within (s, input partition): the
    # exchange key (s, pid) spreads a hot boilerplate shingle across
    # partitions -- no window task ever holds more than one input
    # partition's copies -- and every local NON-winner's verdict is
    # final on the spot (a smaller (doc_id, i) with the same text
    # exists). Phase 2 ranks only the <= n_partitions local winners
    # per shingle. Keying on the text rather than xxhash64(s) deletes
    # the hash-collision fallback outright: the window key IS the
    # dedup identity. (Rejected shapes: groupBy + join-back shuffled
    # the full span set twice; a single hkey window funneled every
    # copy of a hot shingle into ONE window partition -- windows have
    # no partial aggregation, so that re-created the hot-key straggler
    # the groupBy had absorbed map-side.)
    # the spread key must be DETERMINISTIC: bad_clean and the
    # survivors->bad_coll chain each evaluate phase 1 independently,
    # so a spark_partition_id() key could differ between evaluations
    # (executor loss, re-planned stage) and let a duplicate span be a
    # local winner in one branch and a non-winner in the other --
    # escaping excision. pmod(hash(doc_id, i), N) spreads a hot
    # shingle's copies just as evenly and is a pure row function.
    n_spread = max(spark.sparkContext.defaultParallelism, 32)
    local = spans.withColumn(
        "pid", F.pmod(F.hash("doc_id", "i"), F.lit(n_spread))
    )
    w_local = Window.partitionBy("s", "pid").orderBy("doc_id", "i")
    p1 = local.withColumn("lrk", F.row_number().over(w_local))
    bad_clean = p1.filter(F.col("lrk") > 1).select("doc_id", "i")
    survivors = p1.filter(F.col("lrk") == 1).drop("pid", "lrk")
    w_global = Window.partitionBy("s").orderBy("doc_id", "i")
    bad_coll = (
        survivors.withColumn("rn", F.row_number().over(w_global))
        .filter(F.col("rn") > 1)
        .select("doc_id", "i")
    )
    # RANGE-COMPRESS the excised positions before reassembly: in the
    # duplicate-heavy regime (boilerplate corpora, the 20x bench
    # fixture) nearly every span start is bad and the starts form long
    # RUNS -- checking each token against every bad start is
    # O(n_tokens * n_bad) per doc. Sorting the starts and merging
    # overlapping/adjacent [i, i+K) windows into maximal intervals
    # (hi is monotone in sorted order, so a merge just extends the
    # last interval) makes the per-token test O(n_ranges), and a
    # fully-duplicated region of any length collapses to ONE range.
    # linear merge over the SORTED starts: srt[j] extends the previous
    # window iff srt[j] <= srt[j-1] + K (hi is monotone, so the chain
    # condition is consecutive-element-local); range los are the chain
    # breaks, range his are the elements BEFORE a break, +K. Every step
    # is an O(b) array op (filter/element_at/zip_with), never an
    # accumulator copy -- an aggregate() building the range array would
    # re-copy it per element and go quadratic exactly in the
    # duplicate-heavy regime this compression targets.
    srt = F.col("srt")
    los = F.filter(
        srt,
        lambda x, j: (j == F.lit(0))
        | (x - F.element_at(srt, j) > SPAN_K),   # element_at is 1-based:
    )                                            # srt[j] is x's predecessor
    his = F.transform(
        F.filter(
            srt,
            lambda x, j: (j == F.size(srt) - 1)
            | (F.element_at(srt, j + 2) - x > SPAN_K),
        ),
        lambda x: (x + SPAN_K).cast("int"),
    )
    bad_per_doc = (
        bad_clean.unionByName(bad_coll)
        .groupBy("doc_id").agg(F.collect_list("i").alias("bad_i"))
        # hoisted: los/his/zip_with reference the sorted array THREE
        # times -- materialize the sort once per row, not per reference
        .withColumn("srt", F.array_sort("bad_i"))
        .select(
            "doc_id",
            F.zip_with(
                los, his,
                lambda lo, hi: F.struct(lo.cast("int").alias("lo"),
                                        hi.alias("hi")),
            ).alias("rngs"),
        )
    )
    rng_arr = F.coalesce(
        F.col("rngs"), F.array().cast("array<struct<lo:int,hi:int>>")
    )
    # reassemble by GAP SLICES, not a per-token predicate: the ranges
    # are sorted and disjoint, so the survivors are the slices between
    # them ([0, lo_1), [hi_1, lo_2), ..., [hi_last, n)) -- straight
    # array copies, no exists() evaluation per token
    gap_starts = F.concat(
        F.array(F.lit(0)), F.transform(rng_arr, lambda r: r["hi"])
    )
    gap_ends = F.concat(
        F.transform(rng_arr, lambda r: r["lo"]),
        F.array(F.col("n").cast("int")),
    )
    keep = F.flatten(F.zip_with(
        gap_starts, gap_ends,
        lambda a, b: F.slice(F.col("toks"), a + 1, F.greatest(b - a, F.lit(0))),
    ))
    return (
        base.join(bad_per_doc, "doc_id", "left")
        .withColumn("kept", keep)   # hoisted: used by text AND the count
        .select(
            "doc_id",
            F.array_join("kept", " ").alias("text_dedup"),
            F.col("n").cast("long").alias("n_tokens"),
            (F.col("n") - F.size("kept")).cast("long").alias("n_removed"),
        )
    )


DOC_SPAN_DEDUP_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), ' +'),
                     x -> x <> '') AS l
  FROM documents
),
base AS (SELECT doc_id, l, len(l) AS n FROM tok),
sh AS (
  SELECT doc_id, unnest(generate_series(0, n - {SPAN_K})) AS i, l
  FROM base WHERE n >= {SPAN_K}
),
occ AS (
  SELECT doc_id, i,
         array_to_string(list_slice(l, i + 1, i + {SPAN_K}), ' ') AS s
  FROM sh
),
bad AS (
  -- every non-first occurrence of a duplicated shingle (winner by
  -- exact string; Spark keys on xxhash64 with exact-text collision
  -- fallback -- identical semantics absent 64-bit collisions)
  SELECT doc_id, i FROM (
    SELECT doc_id, i,
           row_number() OVER (PARTITION BY s ORDER BY doc_id, i) AS rn
    FROM occ) WHERE rn > 1
),
badl AS (SELECT doc_id, list(i) AS bad_i FROM bad GROUP BY 1)
SELECT b.doc_id,
       -- coalesce: duckdb's array_to_string of an EMPTY list is NULL,
       -- Spark's array_join is '' (a fully-excised doc must agree)
       coalesce(array_to_string(
         list_filter(b.l, (x, p) ->
           len(list_filter(coalesce(badl.bad_i, []),
                           s -> s + 1 <= p AND p <= s + {SPAN_K})) = 0),
         ' '), '') AS text_dedup,
       CAST(b.n AS BIGINT) AS n_tokens,
       CAST(b.n - len(list_filter(b.l, (x, p) ->
           len(list_filter(coalesce(badl.bad_i, []),
                           s -> s + 1 <= p AND p <= s + {SPAN_K})) = 0))
         AS BIGINT) AS n_removed
FROM base b LEFT JOIN badl ON b.doc_id = badl.doc_id
"""

# ---- weighted sampling without replacement (Efraimidis-Spirakis) -----------

WSAMPLE_K = 50


def q_doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, Efraimidis-Spirakis A-ES
    (Inf. Proc. Letters '06): each doc draws u ~ Uniform(0,1) and the
    top-K documents by key u^(1/w) -- equivalently ln(u)/w, the form
    used here -- are EXACTLY a weight-proportional sample without
    replacement. Weight = n_chars (char-budget-proportional inclusion,
    the per-doc analogue of doc_mixture_sample's source budgets). The
    draw is derandomized the way this repo always does it: u is the
    48-bit md5(doc_id) prefix mapped to a fraction, so the sample is
    reproducible across runs AND engines.

    Determinism beyond the draw: the key is ROUNDED to 9 decimals
    before ranking (ln differs in the last ulp between libm and the
    JVM -- the doc_tfidf_topk lesson) and ties break on doc_id, so the
    top-K cut is engine-exact.

    Scale shape: one map-side projection then a distributed top-K
    (TakeOrderedAndProject) -- no shuffle of the corpus, no global
    sort; the A-ES key is THE standard trick for one-pass distributed
    weighted reservoirs, and the same plan serves per-partition
    reservoir merges at 100 TB."""
    d = _documents(spark, sf_dir).filter(
        F.col("text").isNotNull() & (F.col("n_chars") > 0)
    )
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10
        ).cast("double")
        / F.lit(float(16 ** 12))
    )
    key = F.round(F.log(F.greatest(u, F.lit(1e-15))) / F.col("n_chars"), 9)
    return (
        d.select("doc_id", "lang", "source", "n_chars",
                 key.alias("sample_key"))
        .orderBy(F.col("sample_key").desc(), F.col("doc_id").asc())
        .limit(WSAMPLE_K)
    )


DOC_WEIGHTED_SAMPLE_SQL = f"""
WITH d AS (
  SELECT doc_id, lang, source, n_chars,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents WHERE text IS NOT NULL AND n_chars > 0
),
k AS (
  SELECT doc_id, lang, source, n_chars,
         round(ln(greatest({hex_prefix_frac_sql(12)}, 1e-15))
               / n_chars, 9) AS sample_key
  FROM d
)
SELECT * FROM k
ORDER BY sample_key DESC, doc_id ASC
LIMIT {WSAMPLE_K}
"""


# ---- edit-distance near-dup (blocking + banded Levenshtein) -----------------

# blocking prefix/suffix length: near-identical documents share their
# first (or last) EDITDIST_BLOCK chars unless the edits hit BOTH ends
EDITDIST_BLOCK = 24
# keep pairs with edit_dist * DENOM <= max(len) -- a 10% edit budget
EDITDIST_DENOM = 10
# drop blocking keys shared by more than this many documents: a prefix
# or suffix shared by hundreds of docs is boilerplate (a license
# header, a template banner), and pairing inside it is O(n^2) work
# that near-never verifies -- the block-width cap bounds the candidate
# count per block at CAP*(CAP-1)/2 and makes the worst-case shuffle
# linear in corpus size instead of quadratic in the hottest key
EDITDIST_BLOCK_CAP = 32
# phase-1 subgroup fan-out for the capped block build: a boilerplate
# block's members spread over ~EDITDIST_SPREAD bounded partials before
# the per-block merge (task state <= SPREAD * (CAP+1) ids)
EDITDIST_SPREAD = 64


def q_doc_editdist_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by EDIT DISTANCE -- the entity-resolution
    classic (blocking + pairwise verification), complementing the
    set-similarity family (Jaccard / MinHash / SimHash) with a measure
    that sees character-level edits, transposition noise, and OCR-style
    corruption that shingle sets blur together.

    Candidate generation is BLOCKING, never all-pairs: each document
    emits two keys -- its normalized 24-char prefix and 24-char suffix
    -- and only documents sharing a (key, side) block are paired. A
    near-dup within the 10% edit budget must leave one end of the
    document untouched beyond position 24 unless edits hit both ends;
    the prefix block catches tail edits, the suffix block catches head
    edits. Verification is Spark's THRESHOLD-BOUNDED ``levenshtein(a,
    b, t)``: the banded DP costs O(len * t) not O(len^2) and bails to
    -1 the moment the distance provably exceeds the per-pair budget
    ``floor(max_len / 10)`` (dist <= floor(mx/10) <=> dist*10 <= mx in
    integers, so the band IS the output predicate -- no post-filter can
    disagree with it).

    Scale shape: the candidate-pair dedup shuffles 16-byte id pairs
    ONLY (texts are re-attached afterwards by two doc_id equi-joins on
    the corpus's own partitioning); the block join's skew risk is a
    boilerplate prefix shared by millions of docs -- so the plan CAPS
    block width at ``EDITDIST_BLOCK_CAP`` members (per side), bounding
    per-block candidates at CAP*(CAP-1)/2 and the total candidate
    count at CAP/2 * corpus size. The cap is FOLDED INTO the block
    build itself (the r10 fold; the r9 shape paid a separate count
    aggregation plus a membership join back onto the key stream, then
    a two-sided self-join -- three extra corpus-keyed exchanges): one
    two-phase aggregation both counts and collects each block, and
    pairs explode directly from the <= CAP member arrays. Phase 1
    groups by (blk, side, hash-spread) so a boilerplate block's
    members land in ~S subgroups; each subgroup's aggregation task
    still BUFFERS its full ~width/S member list while collect_list
    runs (slice truncates only the completed result to CAP+1 ids --
    Catalyst has no buffer-bounding collect), so the real phase-1
    bound is the hottest block's width divided by the spread, not
    CAP+1. Truncation loses nothing because over-cap blocks are
    discarded downstream by the true summed count. Phase 2 merges the
    <= S truncated partials per block -- at most S*(CAP+1) ids in any
    task -- sums the true width, and drops over-cap blocks. A dropped block is
    boilerplate by definition (32+ documents sharing an identical
    24-char prefix); genuinely near-identical pairs inside it still
    surface through their OTHER end's block unless that end is
    boilerplate too. The DuckDB oracle applies the identical cap via
    HAVING, so the contract is exact, not approximate.

    Distance unit: UTF-8 BYTES, not code points -- DuckDB's
    levenshtein counts bytes while Spark's counts code points, so the
    engine-portable definition (and the one this operator ships) is
    the byte-sequence distance: the Spark side routes the text through
    an encode(utf-8)/decode(iso-8859-1) byte-transparent projection
    (each byte becomes exactly one char) before the DP, and max_len is
    the byte length on both sides. For ASCII corpora the two units
    coincide; for multi-byte text a code-point edit costs its encoded
    width, which only TIGHTENS the relative budget."""
    d = (
        _documents(spark, sf_dir)
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.lower(F.trim("text")).alias("norm"))
    )
    pre = d.select(
        "doc_id", F.substring("norm", 1, EDITDIST_BLOCK).alias("blk"),
        F.lit("p").alias("side"),
    )
    suf = d.select(
        "doc_id",
        F.expr(
            f"substring(norm, greatest(length(norm) - {EDITDIST_BLOCK - 1},"
            f" 1), {EDITDIST_BLOCK})"
        ).alias("blk"),
        F.lit("s").alias("side"),
    )
    keyed = pre.unionByName(suf)
    # cap folded into the block build: ONE two-phase aggregation
    # counts AND collects each (blk, side) block, bounded against
    # boilerplate skew by the hash-spread subgroup key (see docstring),
    # and candidate pairs explode from the <= CAP member arrays -- no
    # count join-back, no two-sided self-join
    spread = F.pmod(F.hash("doc_id"), F.lit(EDITDIST_SPREAD))
    p1 = (
        keyed.groupBy("blk", "side", spread.alias("spr"))
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.slice(
                F.collect_list("doc_id"), 1, EDITDIST_BLOCK_CAP + 1
            ).alias("pids"),
        )
    )
    blocks = (
        p1.groupBy("blk", "side")
        .agg(
            F.sum("pn").alias("blk_n"),
            F.flatten(F.collect_list("pids")).alias("ids"),
        )
        .filter(F.col("blk_n") <= EDITDIST_BLOCK_CAP)
    )
    ids = F.col("ids")
    pair_structs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(
                    F.least(x, y).alias("doc_id_a"),
                    F.greatest(x, y).alias("doc_id_b"),
                ),
            ),
        )
    )
    cand = (
        blocks.select(F.explode(pair_structs).alias("p"))
        .select("p.doc_id_a", "p.doc_id_b")
        .distinct()
    )
    pairs = (
        cand.join(d.select(F.col("doc_id").alias("doc_id_a"),
                           F.col("norm").alias("na")), "doc_id_a")
        .join(d.select(F.col("doc_id").alias("doc_id_b"),
                       F.col("norm").alias("nb")), "doc_id_b")
        # byte-transparent projection: UTF-8 bytes, one char per byte
        .withColumn("ba", F.decode(F.encode("na", "utf-8"), "iso-8859-1"))
        .withColumn("bb", F.decode(F.encode("nb", "utf-8"), "iso-8859-1"))
        .withColumn(
            "max_len",
            F.greatest(F.length("ba"), F.length("bb")).cast("long"),
        )
        .withColumn(
            "thr", F.floor(F.col("max_len") / EDITDIST_DENOM).cast("int")
        )
        .withColumn("edit_dist", F.expr("levenshtein(ba, bb, thr)"))
        .filter(F.col("edit_dist") >= 0)
    )
    return pairs.select(
        "doc_id_a", "doc_id_b",
        F.col("edit_dist").cast("long").alias("edit_dist"),
        "max_len",
        F.round(F.col("edit_dist") / F.col("max_len"), 6).alias("edit_ratio"),
    )


DOC_EDITDIST_NEARDUP_SQL = f"""
WITH d AS (
  SELECT doc_id, lower(trim(text)) AS norm
  FROM documents WHERE text IS NOT NULL
),
k AS (
  SELECT doc_id, substr(norm, 1, {EDITDIST_BLOCK}) AS blk, 'p' AS side FROM d
  UNION ALL
  SELECT doc_id,
         substr(norm, greatest(length(norm) - {EDITDIST_BLOCK - 1}, 1),
                {EDITDIST_BLOCK}),
         's'
  FROM d
),
kc AS (
  SELECT blk, side FROM k
  GROUP BY blk, side HAVING count(*) <= {EDITDIST_BLOCK_CAP}
),
k2 AS (SELECT k.* FROM k JOIN kc USING (blk, side)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
  FROM k2 a JOIN k2 b
    ON a.blk = b.blk AND a.side = b.side AND a.doc_id < b.doc_id
),
v AS (
  -- duckdb's levenshtein is byte-based already; max_len must be the
  -- BYTE length to match (strlen, not the char-based length)
  SELECT c.doc_id_a, c.doc_id_b,
         CAST(levenshtein(da.norm, db.norm) AS BIGINT) AS edit_dist,
         CAST(greatest(strlen(da.norm), strlen(db.norm))
              AS BIGINT) AS max_len
  FROM cand c
  JOIN d da ON da.doc_id = c.doc_id_a
  JOIN d db ON db.doc_id = c.doc_id_b
)
SELECT doc_id_a, doc_id_b, edit_dist, max_len,
       round(edit_dist * 1.0 / max_len, 6) AS edit_ratio
FROM v WHERE edit_dist * {EDITDIST_DENOM} <= max_len
"""


def q_doc_editdist_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The entity-resolution chain COMPLETED: blocking -> banded
    verification (:func:`q_doc_editdist_neardup`) -> transitive
    CLUSTERING, every document labeled with its connected component's
    min doc_id and ``keep`` marking the canonical record -- the same
    pairwise-to-decision step :func:`q_doc_dedup_clusters` performs for
    the Jaccard family, riding the same shared connected-components
    operator (operators/connected_components.py: one collect of the
    pair graph, union-find on the driver).
    Documents outside every pair (including NULL-text docs, which the
    pair query excludes) keep themselves via the left join."""
    pairs = q_doc_editdist_neardup(spark, sf_dir).select(
        F.col("doc_id_a").alias("d1"), F.col("doc_id_b").alias("d2")
    )
    labels = hash_min_components(pairs).withColumnRenamed(
        "node_id", "doc_id"
    )
    docs = _documents(spark, sf_dir).select("doc_id")
    return (
        docs.join(labels, "doc_id", "left")
        .withColumn("cluster_rep", F.coalesce("rep", "doc_id"))
        .select(
            "doc_id",
            "cluster_rep",
            (F.col("cluster_rep") == F.col("doc_id")).alias("keep"),
        )
    )


DOC_EDITDIST_CLUSTERS_SQL = f"""
WITH RECURSIVE d AS (
  SELECT doc_id, lower(trim(text)) AS norm
  FROM documents WHERE text IS NOT NULL
),
k AS (
  SELECT doc_id, substr(norm, 1, {EDITDIST_BLOCK}) AS blk, 'p' AS side FROM d
  UNION ALL
  SELECT doc_id,
         substr(norm, greatest(length(norm) - {EDITDIST_BLOCK - 1}, 1),
                {EDITDIST_BLOCK}),
         's'
  FROM d
),
kc AS (
  SELECT blk, side FROM k
  GROUP BY blk, side HAVING count(*) <= {EDITDIST_BLOCK_CAP}
),
k2 AS (SELECT k.* FROM k JOIN kc USING (blk, side)),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM k2 a JOIN k2 b
    ON a.blk = b.blk AND a.side = b.side AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT c.d1, c.d2
  FROM cand c
  JOIN d da ON da.doc_id = c.d1
  JOIN d db ON db.doc_id = c.d2
  WHERE levenshtein(da.norm, db.norm) * {EDITDIST_DENOM}
        <= greatest(strlen(da.norm), strlen(db.norm))
),
edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
walk AS (
  SELECT a AS doc_id, a AS reach FROM edges
  UNION
  SELECT w.doc_id, e.b FROM walk w JOIN edges e ON e.a = w.reach
),
comp AS (SELECT doc_id, min(reach) AS cluster_rep FROM walk GROUP BY doc_id)
SELECT x.doc_id,
       coalesce(c.cluster_rep, x.doc_id) AS cluster_rep,
       coalesce(c.cluster_rep, x.doc_id) = x.doc_id AS keep
FROM documents x LEFT JOIN comp c USING (doc_id)
"""


QUERIES = {
    "doc_weighted_sample": q_doc_weighted_sample,
    "doc_editdist_neardup": q_doc_editdist_neardup,
    "doc_editdist_clusters": q_doc_editdist_clusters,
    "doc_span_dedup": q_doc_span_dedup,
    "doc_chunk": q_doc_chunk,
    "doc_paragraph_dedup": q_doc_paragraph_dedup,
    "doc_exact_dedup": q_doc_exact_dedup,
    "doc_bpe_token_count": q_doc_bpe_token_count,
    "doc_bpe_encode": q_doc_bpe_encode,
    "doc_train_test_split": q_doc_train_test_split,
    "doc_token_stats": q_doc_token_stats,
    "doc_quality": q_doc_quality,
    "doc_lang_id": q_doc_lang_id,
    "doc_fingerprint": q_doc_fingerprint,
    "doc_jaccard_pairs": q_doc_jaccard_pairs,
    "doc_containment_pairs": q_doc_containment_pairs,
    "doc_ngram_novelty": q_doc_ngram_novelty,
    "doc_minhash_lsh_dedup": q_doc_minhash_lsh_dedup,
    "doc_minhash_jaccard_est": q_doc_minhash_jaccard_est,
    "doc_dedup_clusters": q_doc_dedup_clusters,
    "doc_simhash": q_doc_simhash,
    "doc_simhash_neardup": q_doc_simhash_neardup,
    "doc_stratified_sample": q_doc_stratified_sample,
    "doc_dedup_keep_best": q_doc_dedup_keep_best,
    "doc_corpus_build": q_doc_corpus_build,
    "doc_ngram_df": q_doc_ngram_df,
    "doc_tfidf_topk": q_doc_tfidf_topk,
    "doc_decontaminate": q_doc_decontaminate,
    "doc_seq_packing": q_doc_seq_packing,
    "doc_bpe_seq_packing": q_doc_bpe_seq_packing,
}

ORACLES = {
    "doc_weighted_sample": DOC_WEIGHTED_SAMPLE_SQL,
    "doc_editdist_neardup": DOC_EDITDIST_NEARDUP_SQL,
    "doc_editdist_clusters": DOC_EDITDIST_CLUSTERS_SQL,
    "doc_span_dedup": DOC_SPAN_DEDUP_SQL,
    "doc_chunk": DOC_CHUNK_SQL,
    "doc_paragraph_dedup": DOC_PARAGRAPH_DEDUP_SQL,
    "doc_exact_dedup": DOC_EXACT_DEDUP_SQL,
    "doc_bpe_token_count": DOC_BPE_TOKEN_COUNT_SQL,
    "doc_bpe_encode": DOC_BPE_ENCODE_SQL,
    "doc_train_test_split": DOC_TRAIN_TEST_SPLIT_SQL,
    "doc_token_stats": DOC_TOKEN_STATS_SQL,
    "doc_quality": DOC_QUALITY_SQL,
    "doc_lang_id": DOC_LANG_ID_SQL,
    "doc_fingerprint": DOC_FINGERPRINT_SQL,
    "doc_jaccard_pairs": DOC_JACCARD_PAIRS_SQL,
    "doc_containment_pairs": DOC_CONTAINMENT_PAIRS_SQL,
    "doc_ngram_novelty": DOC_NGRAM_NOVELTY_SQL,
    "doc_minhash_lsh_dedup": DOC_MINHASH_LSH_SQL,
    "doc_minhash_jaccard_est": DOC_MINHASH_JACCARD_EST_SQL,
    "doc_dedup_clusters": DOC_DEDUP_CLUSTERS_SQL,
    "doc_simhash": DOC_SIMHASH_SQL,
    "doc_simhash_neardup": DOC_SIMHASH_NEARDUP_SQL,
    "doc_stratified_sample": DOC_STRATIFIED_SAMPLE_SQL,
    "doc_dedup_keep_best": DOC_DEDUP_KEEP_BEST_SQL,
    "doc_corpus_build": DOC_CORPUS_BUILD_SQL,
    "doc_ngram_df": DOC_NGRAM_DF_SQL,
    "doc_tfidf_topk": DOC_TFIDF_TOPK_SQL,
    "doc_decontaminate": DOC_DECONTAMINATE_SQL,
    "doc_seq_packing": DOC_SEQ_PACKING_SQL,
    "doc_bpe_seq_packing": DOC_BPE_SEQ_PACKING_SQL,
}
