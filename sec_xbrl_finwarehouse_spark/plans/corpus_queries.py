"""Corpus-hygiene operators over the ``documents`` table (round-4 pack).

The signals every pretraining-data pipeline computes between "raw crawl"
and "training shards", beyond the dedup/quality/split operators in
plans/text_queries.py:

* Gopher-style repetition metrics (duplicate/top n-gram fractions) --
  the highest-signal quality filter after length (Rae et al. 2021 §A1.1
  use exactly these duplicate-n-gram fractions as filters).
* PII scan + redaction (email / IPv4 / phone regexes) -- counts on the
  raw text plus a redacted rendition, the pre-release compliance pass.
* Unigram-LM cross-entropy -- the CCNet-style perplexity-bucket quality
  proxy from the corpus's own term distribution (no external model).
* Token-length histogram -- the bounded-key distribution report behind
  truncation/packing-window choices.
* Source/domain mixture stats -- per-source corpus share and the
  up/down-weight that rebalances sampling toward a uniform target mix.
* Deterministic global shuffle -- hash-sharded, reproducible training
  order without a single-partition global sort.

All pure built-in expressions (no UDFs); every query has a DuckDB
oracle co-located here. Regex dialect is restricted to the syntax Java
(Spark) and RE2 (DuckDB) interpret identically: character classes,
bounded repetition, non-capturing groups, ``\\b`` word boundaries -- no
lookaround, no backreferences.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .sqlfrag import hex_prefix_bigint_sql
from .text_queries import _documents, _persist_hot, _tokens

# ---- Gopher-style repetition metrics ---------------------------------------


def _grams(tokens_col, n: int):
    """All n-grams (NOT distinct -- repetition is the point here);
    empty array when the doc is shorter than n tokens."""
    sz = F.size(tokens_col)
    return F.when(sz < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), sz - (n - 1)),
            lambda i: F.array_join(F.slice(tokens_col, i, n), " "),
        )
    )


def repetition_of(docs: DataFrame) -> DataFrame:
    """Per-document duplicate-n-gram and top-n-gram fractions for
    n in {2, 3}:

    * ``n{n}_total``    -- n-gram occurrences (len(tokens) - n + 1)
    * ``n{n}_dup_frac`` -- (total - distinct) / total: the fraction of
      n-gram slots occupied by a repeat of an earlier n-gram (Gopher's
      "duplicate n-gram fraction" filter signal)
    * ``n{n}_top_frac`` -- occurrences of the most frequent n-gram /
      total (Gopher's "top n-gram fraction")

    Plan shape: ONE explode over (n, gram) structs for both sizes, one
    (doc_id, n, gram) count agg (map-side combinable -- the dominant
    reducer of the token stream), then one (doc_id) agg with conditional
    sums; short/empty docs re-enter via a left join with zero fill.
    At 100 TB this is the same two-level aggregation shape as word
    count: shuffle volume is bounded by the per-partition DISTINCT
    (doc_id, n, gram) set, never the raw token stream."""
    toks = docs.select("doc_id", _tokens(F.col("text")).alias("toks"))
    ex = toks.select(
        "doc_id",
        F.explode(
            F.concat(
                F.transform(
                    _grams(F.col("toks"), 2),
                    lambda g: F.struct(F.lit(2).alias("n"), g.alias("gram")),
                ),
                F.transform(
                    _grams(F.col("toks"), 3),
                    lambda g: F.struct(F.lit(3).alias("n"), g.alias("gram")),
                ),
            )
        ).alias("ng"),
    ).select("doc_id", F.col("ng.n").alias("n"), F.col("ng.gram").alias("gram"))
    per_gram = ex.groupBy("doc_id", "n", "gram").agg(F.count("*").alias("cnt"))

    def _stats(n: int):
        is_n = F.col("n") == n
        total = F.sum(F.when(is_n, F.col("cnt")).otherwise(F.lit(0)))
        distinct = F.sum(F.when(is_n, F.lit(1)).otherwise(F.lit(0)))
        top = F.max(F.when(is_n, F.col("cnt")))
        return [
            total.alias(f"n{n}_total"),
            ((total - distinct) / F.greatest(total, F.lit(1)))
            .cast("double")
            .alias(f"n{n}_dup_frac"),
            (F.coalesce(top, F.lit(0)) / F.greatest(total, F.lit(1)))
            .cast("double")
            .alias(f"n{n}_top_frac"),
        ]

    stats = per_gram.groupBy("doc_id").agg(*_stats(2), *_stats(3))
    zero = [
        F.coalesce(c, F.lit(0)).cast(t).alias(c)
        for c, t in [
            ("n2_total", "long"), ("n2_dup_frac", "double"),
            ("n2_top_frac", "double"), ("n3_total", "long"),
            ("n3_dup_frac", "double"), ("n3_top_frac", "double"),
        ]
    ]
    return docs.select("doc_id").join(stats, "doc_id", "left").select(
        "doc_id", *zero
    )


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_of(_documents(spark, sf_dir))


_GRAMS_SQL = """
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), ' +'), x -> x <> '') AS w
  FROM documents
),
ng AS (
  SELECT doc_id, 2 AS n,
         unnest(CASE WHEN len(w) < 2 THEN []::varchar[]
                     ELSE [array_to_string(w[i:i+1], ' ')
                           for i in range(1, len(w))] END) AS gram
  FROM tok
  UNION ALL
  SELECT doc_id, 3 AS n,
         unnest(CASE WHEN len(w) < 3 THEN []::varchar[]
                     ELSE [array_to_string(w[i:i+2], ' ')
                           for i in range(1, len(w) - 1)] END) AS gram
  FROM tok
),
per_gram AS (
  SELECT doc_id, n, gram, count(*) AS cnt FROM ng GROUP BY 1, 2, 3
),
stats AS (
  SELECT doc_id,
         sum(CASE WHEN n = 2 THEN cnt ELSE 0 END) AS n2_total,
         sum(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS n2_distinct,
         max(CASE WHEN n = 2 THEN cnt END) AS n2_top,
         sum(CASE WHEN n = 3 THEN cnt ELSE 0 END) AS n3_total,
         sum(CASE WHEN n = 3 THEN 1 ELSE 0 END) AS n3_distinct,
         max(CASE WHEN n = 3 THEN cnt END) AS n3_top
  FROM per_gram GROUP BY 1
)"""

DOC_REPETITION_SQL = f"""{_GRAMS_SQL}
SELECT d.doc_id,
       coalesce(s.n2_total, 0)::BIGINT AS n2_total,
       coalesce((s.n2_total - s.n2_distinct)::DOUBLE
                / greatest(s.n2_total, 1), 0.0) AS n2_dup_frac,
       coalesce(coalesce(s.n2_top, 0)::DOUBLE
                / greatest(s.n2_total, 1), 0.0) AS n2_top_frac,
       coalesce(s.n3_total, 0)::BIGINT AS n3_total,
       coalesce((s.n3_total - s.n3_distinct)::DOUBLE
                / greatest(s.n3_total, 1), 0.0) AS n3_dup_frac,
       coalesce(coalesce(s.n3_top, 0)::DOUBLE
                / greatest(s.n3_total, 1), 0.0) AS n3_top_frac
FROM documents d LEFT JOIN stats s USING (doc_id)
"""


# ---- PII scan + redaction --------------------------------------------------

EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
IPV4_RE = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
PHONE_RE = "\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b"


def pii_scan_of(docs: DataFrame) -> DataFrame:
    """Per-document PII census + redaction: counts of email / IPv4 /
    dashed-phone matches on the RAW text (each pattern counted
    independently), plus the md5 of the redacted rendition (emails ->
    <EMAIL>, then phones -> <PHONE>, then IPv4 -> <IP> -- phone before
    IP so a dotted phone is not half-eaten by the IP pattern).

    Pure projection: regexp_extract_all / regexp_replace are built-ins,
    no shuffle, composes with the scan. The md5-of-redacted output keeps
    the oracle comparison exact without hauling full redacted text
    through the compare; production would write the redacted column
    itself. At 100 TB this is the classic map-only pass fused into
    whatever scan runs anyway."""
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), EMAIL_RE, "<EMAIL>"),
            PHONE_RE, "<PHONE>",
        ),
        IPV4_RE, "<IP>",
    )
    n_em = F.size(F.regexp_extract_all(F.col("text"), F.lit(EMAIL_RE), F.lit(0)))
    n_ip = F.size(F.regexp_extract_all(F.col("text"), F.lit(IPV4_RE), F.lit(0)))
    n_ph = F.size(F.regexp_extract_all(F.col("text"), F.lit(PHONE_RE), F.lit(0)))
    return docs.select(
        "doc_id",
        n_em.cast("long").alias("n_emails"),
        n_ip.cast("long").alias("n_ipv4"),
        n_ph.cast("long").alias("n_phones"),
        ((n_em + n_ip + n_ph) > 0).alias("has_pii"),
        F.md5(redacted).alias("redacted_md5"),
    )


def q_doc_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pii_scan_of(_documents(spark, sf_dir))


def _sq(pat: str) -> str:
    return pat.replace("'", "''")


DOC_PII_SCAN_SQL = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{_sq(EMAIL_RE)}'))::BIGINT AS n_emails,
       len(regexp_extract_all(text, '{_sq(IPV4_RE)}'))::BIGINT AS n_ipv4,
       len(regexp_extract_all(text, '{_sq(PHONE_RE)}'))::BIGINT AS n_phones,
       (len(regexp_extract_all(text, '{_sq(EMAIL_RE)}'))
        + len(regexp_extract_all(text, '{_sq(IPV4_RE)}'))
        + len(regexp_extract_all(text, '{_sq(PHONE_RE)}'))) > 0 AS has_pii,
       md5(regexp_replace(regexp_replace(regexp_replace(
             text, '{_sq(EMAIL_RE)}', '<EMAIL>', 'g'),
             '{_sq(PHONE_RE)}', '<PHONE>', 'g'),
             '{_sq(IPV4_RE)}', '<IP>', 'g')) AS redacted_md5
FROM documents
"""


# ---- source/domain mixture stats -------------------------------------------


def q_doc_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus share and the sampling weight that rebalances
    toward a UNIFORM source mix: weight = (1/n_sources) / share, i.e.
    docs from over-represented sources are down-weighted (<1), rare
    sources up-weighted (>1) -- the mixture knob of a training sampler.

    One tiny aggregation keyed by source plus a broadcast of the two
    corpus-level scalars; source cardinality is bounded (domains, not
    documents), so the result set stays dimension-sized at any corpus
    size. Weights rounded to 6 places so last-ulp division differences
    cannot fail the value hash."""
    d = _documents(spark, sf_dir)
    per = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("n_chars_total"),
    )
    totals = per.agg(
        F.sum("n_docs").alias("corpus_docs"),
        F.count("*").alias("n_sources"),
    )
    share = F.col("n_docs") / F.col("corpus_docs")
    return (
        per.crossJoin(F.broadcast(totals))
        .select(
            "source", "n_docs", "n_chars_total",
            F.round(share, 6).cast("double").alias("share"),
            F.round((F.lit(1.0) / F.col("n_sources")) / share, 6)
            .cast("double")
            .alias("uniform_weight"),
        )
    )


DOC_DOMAIN_MIX_SQL = """
WITH per AS (
  -- BIGINT cast: DuckDB sum(BIGINT) is HUGEINT -> float64 in pandas,
  -- which would type-mismatch Spark's int64 under the driver's compare
  SELECT source, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_chars_total
  FROM documents GROUP BY 1
),
tot AS (SELECT sum(n_docs) AS corpus_docs, count(*) AS n_sources FROM per)
SELECT source, n_docs, n_chars_total,
       round(n_docs / corpus_docs, 6)::DOUBLE AS share,
       round((1.0 / n_sources) / (n_docs / corpus_docs), 6)::DOUBLE
         AS uniform_weight
FROM per CROSS JOIN tot
"""


# ---- deterministic global shuffle (training order) -------------------------

SHUFFLE_SHARDS = 32


def q_doc_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible epoch shuffle: every document gets a (shard, pos)
    training-order coordinate derived purely from md5(doc_id) -- same
    order on any engine, any partitioning, any rerun; readers stream
    shard 0 pos 0.., shard 1 pos 0.., in parallel.

    Scale shape: a global ORDER BY md5 would range-shuffle the whole
    corpus into one totally-ordered sort (fine, but serial to consume);
    hash-sharding first means {SHUFFLE_SHARDS} independent row_number
    windows, each shard sortable and consumable in parallel -- exactly
    how training shards are laid out on disk. The md5 draw makes shard
    assignment uniform, so no shard skews regardless of doc_id gaps."""
    d = _documents(spark, sf_dir).select("doc_id")
    h = F.md5(F.col("doc_id").cast("string"))
    shard = F.pmod(
        F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint"),
        F.lit(SHUFFLE_SHARDS),
    )
    w = Window.partitionBy("shard").orderBy(F.col("hx").asc(), F.col("doc_id").asc())
    return (
        d.select("doc_id", shard.alias("shard"), h.alias("hx"))
        .withColumn("pos", (F.row_number().over(w) - 1).cast("long"))
        .select("doc_id", "shard", "pos")
    )


DOC_GLOBAL_SHUFFLE_SQL = f"""
WITH h AS (
  SELECT doc_id,
         md5(CAST(doc_id AS VARCHAR)) AS hx,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           % {SHUFFLE_SHARDS} AS shard
  FROM documents
)
SELECT doc_id, shard,
       (ROW_NUMBER() OVER (PARTITION BY shard
                           ORDER BY hx ASC, doc_id ASC) - 1)::BIGINT AS pos
FROM h
"""


# ---- corpus length histogram ------------------------------------------------

HIST_BUCKET_TOKENS = 20
HIST_MAX_BUCKET = 19


def q_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram of the corpus: fixed {HIST_BUCKET_TOKENS}-token
    buckets (top bucket open-ended), with doc count, token mass, and the
    bucket's share of corpus tokens -- the length-distribution report
    that drives truncation limits, packing-window choices, and
    short-doc filters.

    One projection + one bounded-key aggregation (at most
    {HIST_MAX_BUCKET} + 1 groups regardless of corpus size, fully
    map-side combinable) + a broadcast total -- the cheapest possible
    corpus-wide report shape."""
    d = _documents(spark, sf_dir).select(
        F.size(_tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    bucket = F.least(
        F.floor(F.col("n_tokens") / HIST_BUCKET_TOKENS),
        F.lit(HIST_MAX_BUCKET).cast("long"),
    )
    per = d.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("token_mass"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    )
    total = per.agg(F.sum("token_mass").alias("corpus_tokens"))
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            "bucket", "n_docs", "token_mass", "min_tokens", "max_tokens",
            F.round(F.col("token_mass") / F.col("corpus_tokens"), 6)
            .alias("token_share"),
        )
    )


DOC_LENGTH_HISTOGRAM_SQL = f"""
WITH d AS (
  SELECT len(list_filter(string_split_regex(lower(trim(text)), ' +'),
                         x -> x <> ''))::BIGINT AS n_tokens
  FROM documents
),
per AS (
  SELECT least(CAST(floor(n_tokens / {HIST_BUCKET_TOKENS}) AS BIGINT),
               {HIST_MAX_BUCKET}) AS bucket,
         count(*) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS token_mass,
         min(n_tokens) AS min_tokens,
         max(n_tokens) AS max_tokens
  FROM d GROUP BY 1
),
tot AS (SELECT CAST(sum(token_mass) AS BIGINT) AS corpus_tokens FROM per)
SELECT bucket, n_docs, token_mass, min_tokens, max_tokens,
       round(token_mass / corpus_tokens, 6) AS token_share
FROM per CROSS JOIN tot
"""


# ---- unigram LM cross-entropy (CCNet-style quality proxy) ------------------


def q_doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under the corpus's own unigram language
    model -- the CCNet-style "perplexity bucket" quality signal without
    an external LM: common-token documents score low (head of the corpus
    distribution), rare-token soup scores high.

    xent = -sum_tok tf * ln(cnt_tok / N) / n_tokens, where cnt comes
    from the corpus term-frequency table and N is total corpus tokens.

    Determinism across engines: the PER-TOKEN log-prob is quantized to
    integer micro-nats (floor(ln(p) * 1e6 + 0.5) -- floor is identical
    in both engines, see the int8 quantizer), and the per-doc total is
    an order-independent BIGINT sum of those; a raw double sum would
    depend on each engine's aggregation order. ln() itself can differ
    by 1 ulp between libms, which flips a micro-nat only when a term
    sits within ~1e-16 relative of a quantization boundary --
    negligible, and flagged by the oracle if it ever lands.

    Scale shape (two passes over the tokenizer, zero wide exchanges of
    token-level data): pass 1 aggregates the vocabulary-sized unigram
    LM table -- counts by token, fully map-side combinable, plus the
    corpus total as a SCALAR aggregation broadcast-crossed back onto
    the count table (two-stage partial agg; no single-partition window
    anywhere, so the vocabulary never funnels through one task).
    Pass 2 BROADCASTS that LM (Heaps' law keeps natural-
    language vocabularies orders of magnitude smaller than the corpus)
    onto the raw token stream and aggregates straight to doc_id --
    quantizing per token occurrence means no intermediate (doc_id, tok)
    tf table is ever built or shuffled, and because each doc's tokens
    explode inside one partition the per-doc partial agg completes
    map-side (the exchange carries one partial per doc). A
    (doc_id, tok) -> tf factoring with a persisted tf table was built
    and A/B-measured in r10: exactness-identical (floor around the
    single-token ln, tf multiplied outside), but slightly SLOWER at
    10x/20x under matched JVM settings and a worse 100 TB shape -- on
    an unpartitioned production scan the tf groupBy becomes a
    token-stream-sized exchange and the persist a corpus-sized cache,
    while the second tokenize pass here is pure map-side CPU over a
    scan that reads twice. At a vocabulary too large to broadcast
    (byte-level tokens at extreme corpus breadth), swap the broadcast
    hint for a shuffle join; semantics are unchanged."""
    d = _documents(spark, sf_dir)
    # explode_OUTER keeps zero-token docs as one NULL-token row, so the
    # per-doc aggregation below covers EVERY doc and no corpus-sized
    # re-join of the doc list is ever needed
    toks = d.select(
        "doc_id", F.explode_outer(_tokens(F.col("text"))).alias("tok")
    )
    cnt = (
        toks.filter(F.col("tok").isNotNull())
        .groupBy("tok").agg(F.count("*").alias("cnt"))
    )
    # corpus total as a scalar agg broadcast-crossed back on -- NOT a
    # Window.partitionBy() sum, which would funnel the whole vocabulary
    # through ONE task (at web scale the token set -- typos, numbers,
    # code -- is far too wide for a single partition)
    tot = cnt.agg(F.sum("cnt").alias("n_corpus"))
    lm = cnt.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.floor(
            F.log(F.col("cnt") / F.col("n_corpus")) * F.lit(1e6) + F.lit(0.5)
        ).cast("long").alias("tok_unats"),
    )
    # left join: the NULL-token rows of empty docs pass through with
    # tok_unats NULL; count("tok") ignores them -> n_tokens 0, xent NULL
    return (
        toks.join(F.broadcast(lm), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count("tok").alias("n_tokens"),
            (-F.sum("tok_unats")).alias("neg_unats"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("neg_unats") / F.lit(1e6) / F.col("n_tokens"), 6)
            .alias("xent"),
        )
    )


DOC_UNIGRAM_LOGPROB_SQL = """
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(trim(text)), ' +'),
                            x -> x <> '')) AS tok
  FROM documents
),
cnt AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1),
tot AS (SELECT sum(cnt) AS n_corpus FROM cnt),
lm AS (
  -- per-token micro-nat quantization (floor AROUND the single-token
  -- ln, tf multiplier outside -- must match the Spark spelling)
  SELECT tok,
         CAST(floor(ln(cnt.cnt / tot.n_corpus) * 1e6 + 0.5) AS BIGINT)
           AS tok_unats
  FROM cnt CROSS JOIN tot
),
per_doc AS (
  -- BIGINT casts: DuckDB sum(BIGINT) is HUGEINT, which pandas would
  -- surface as float/object and type-mismatch Spark's int64
  SELECT tok.doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(-sum(lm.tok_unats) AS BIGINT) AS neg_unats
  FROM tok JOIN lm USING (tok)
  GROUP BY 1
)
SELECT d.doc_id,
       coalesce(p.n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
       round(p.neg_unats / 1e6 / p.n_tokens, 6) AS xent
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


# ---- CCNet head/middle/tail buckets over the LM score ----------------------


def q_doc_ccnet_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet SELECTION stage the LM score exists for: documents
    bucketed into head / middle / tail by corpus-relative perplexity
    TERCILES (CCNet trains on "head", samples "middle", drops "tail").
    Composes :func:`q_doc_unigram_logprob`'s already-quantized,
    already-rounded ``xent`` with two threshold comparisons -- the
    bucketing itself adds no new per-token work.

    Thresholds are the exact 1/3 and 2/3 quantiles of the non-NULL
    scores, computed as ONE scalar aggregate over the doc-count-sized
    score table and broadcast-crossed back (never an ntile/global-sort
    window, which would funnel every document through one task). At
    extreme doc counts swap the exact percentile for a mergeable
    fixed-width histogram: count scores per floor(xent / width) bin,
    take a running sum over the bins, and interpolate linearly inside
    the bin where the running count first reaches q*n, an error of at
    most one bin width -- the bucketing comparisons are unchanged.
    Empty docs (NULL xent) get their own 'empty' bucket: CCNet drops
    them, and an explicit label keeps that decision visible downstream.

    The score frame is persisted (_persist_hot, MEMORY_AND_DISK): it
    feeds both the threshold aggregate and the final projection, and
    without it the whole two-pass tokenize+LM pipeline would execute
    twice (doc-count-sized, so MEMORY_AND_DISK is safe even at scale).
    """
    x = _persist_hot(q_doc_unigram_logprob(spark, sf_dir))
    th = (
        x.filter(F.col("xent").isNotNull())
        .agg(
            F.expr(
                "percentile(xent, array(CAST(1.0/3.0 AS DOUBLE),"
                " CAST(2.0/3.0 AS DOUBLE)))"
            ).alias("t")
        )
    )
    bucket = (
        F.when(F.col("xent").isNull(), F.lit("empty"))
        .when(F.col("xent") <= F.col("t")[0], F.lit("head"))
        .when(F.col("xent") <= F.col("t")[1], F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return x.crossJoin(F.broadcast(th)).select(
        "doc_id", "n_tokens", "xent", bucket.alias("bucket")
    )


DOC_CCNET_BUCKET_SQL = f"""
WITH x AS ({DOC_UNIGRAM_LOGPROB_SQL}),
th AS (
  SELECT quantile_cont(xent, 1.0/3.0) AS t1,
         quantile_cont(xent, 2.0/3.0) AS t2
  FROM x WHERE xent IS NOT NULL
)
SELECT doc_id, n_tokens, xent,
       CASE WHEN xent IS NULL THEN 'empty'
            WHEN xent <= t1 THEN 'head'
            WHEN xent <= t2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM x CROSS JOIN th
"""


# ---- bigram LM cross-entropy (KenLM-style quality proxy, order 2) ----------


def q_doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under the corpus's own BIGRAM language
    model -- the order-2 step from :func:`q_doc_unigram_logprob` toward
    the KenLM-perplexity filter CCNet actually ships: a document full of
    individually-common tokens in improbable ORDER (shuffled text, SEO
    keyword soup, table dumps) scores high here while sailing through
    the unigram screen.

    Scoring convention (stated, both engines agree): the FIRST token of
    a document is scored under the unigram MLE ln(C(t)/N); every later
    token under the conditional bigram MLE ln(C(prev,cur)/C(prev)). The
    corpus scores ITSELF, so every scored bigram exists in the model and
    no smoothing/backoff branch is needed -- scoring an external corpus
    would interpolate with the unigram table (same join shape, one
    coalesce). xent = -(sum of per-token log-probs)/n_tokens; 1-token
    docs reduce to the unigram term, empty docs emit NULL.

    Determinism: identical micro-nat quantization to the unigram query
    -- each token's log-prob becomes floor(ln(p)*1e6 + 0.5) BIGINT and
    the per-doc total is an order-independent integer sum.

    Scale shape (two passes, zero wide exchanges of token-level data):
    the bigram stream is built MAP-SIDE from each doc's token array
    (transform over positions -> explode -- never a positional
    self-join of an exploded token table, which would shuffle the whole
    corpus on (doc_id, pos)). Pass 1 aggregates the bigram and unigram
    count tables (both vocabulary-sized, map-side combinable) and
    derives the conditional LM with one broadcast join of the two.
    Pass 2 re-streams the bigrams, joins the BROADCAST LM, and
    aggregates straight to doc_id -- the scan is hash-partitioned on
    doc_id so the per-doc agg needs no exchange. Bigram vocabulary is
    bigger than unigram but still Heaps-bounded far below corpus size;
    at a truly unbroadcastable bigram table, swap the hint for a
    shuffle join on (a, b) -- semantics unchanged."""
    d = _documents(spark, sf_dir)
    base = d.select("doc_id", _tokens(F.col("text")).alias("toks")) \
        .withColumn("n", F.size("toks"))

    def bigram_stream():
        # arrays_zip of two shifted slices, NOT per-position element_at
        # (the [[spark-element-at-in-lambda-trap]] the shingle helper
        # documents: positional access inside a transform lambda
        # measured ~20x slower than slice-based construction -- here it
        # was 24 s vs 4 s at the 10x corpus)
        pairs = F.arrays_zip(
            F.slice(F.col("toks"), 1, F.col("n") - 1).alias("a"),
            F.slice(F.col("toks"), 2, F.col("n") - 1).alias("b"),
        )
        return (
            base.filter(F.col("n") >= 2)
            .select("doc_id", F.explode(pairs).alias("bg"))
            .select("doc_id", F.col("bg.a").alias("a"), F.col("bg.b").alias("b"))
        )

    uni = base.select("doc_id", F.explode("toks").alias("tok"))
    cnt1 = uni.groupBy("tok").agg(F.count("*").alias("c1"))
    tot = cnt1.agg(F.sum("c1").alias("n_corpus"))
    lm1 = cnt1.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.floor(
            F.log(F.col("c1") / F.col("n_corpus")) * F.lit(1e6) + F.lit(0.5)
        ).cast("long").alias("unats"),
    )
    cnt2 = bigram_stream().groupBy("a", "b").agg(F.count("*").alias("c2"))
    lm2 = cnt2.join(
        F.broadcast(cnt1.withColumnRenamed("tok", "a")), "a"
    ).select(
        "a", "b",
        F.floor(
            F.log(F.col("c2") / F.col("c1")) * F.lit(1e6) + F.lit(0.5)
        ).cast("long").alias("unats"),
    )
    bsum = (
        bigram_stream()
        .join(F.broadcast(lm2), ["a", "b"])
        .groupBy("doc_id")
        .agg(F.sum("unats").alias("b_unats"))
    )
    fsum = (
        base.filter(F.col("n") >= 1)
        .select("doc_id", F.element_at("toks", 1).alias("tok"))
        .join(F.broadcast(lm1), "tok")
        .select("doc_id", F.col("unats").alias("f_unats"))
    )
    total = F.when(
        F.col("f_unats").isNotNull(),
        F.col("f_unats") + F.coalesce(F.col("b_unats"), F.lit(0)),
    )
    return (
        base.select("doc_id", "n")
        .join(fsum, "doc_id", "left")
        .join(bsum, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_tokens"),
            F.round(-total / F.lit(1e6) / F.col("n"), 6).alias("xent"),
        )
    )


DOC_BIGRAM_LOGPROB_SQL = """
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), ' +'),
                     x -> x <> '') AS w
  FROM documents
),
uni AS (SELECT doc_id, unnest(w) AS tok FROM tok),
cnt1 AS (SELECT tok, count(*) AS c1 FROM uni GROUP BY 1),
tot AS (SELECT sum(c1) AS n_corpus FROM cnt1),
lm1 AS (
  SELECT tok,
         CAST(floor(ln(cnt1.c1 / tot.n_corpus) * 1e6 + 0.5) AS BIGINT)
           AS unats
  FROM cnt1 CROSS JOIN tot
),
bigs AS (
  SELECT doc_id, unnest([{'a': w[i - 1], 'b': w[i]}
                         for i in range(2, len(w) + 1)]) AS bg
  FROM tok WHERE len(w) >= 2
),
cnt2 AS (SELECT bg.a AS a, bg.b AS b, count(*) AS c2 FROM bigs GROUP BY 1, 2),
lm2 AS (
  -- conditional MLE ln(C(a,b)/C(a)); DuckDB's / on integers is float
  -- division, matching Spark's long/long -> double
  SELECT cnt2.a, cnt2.b,
         CAST(floor(ln(cnt2.c2 / cnt1.c1) * 1e6 + 0.5) AS BIGINT) AS unats
  FROM cnt2 JOIN cnt1 ON cnt1.tok = cnt2.a
),
bsum AS (
  SELECT bigs.doc_id, CAST(sum(lm2.unats) AS BIGINT) AS b_unats
  FROM bigs JOIN lm2 ON lm2.a = bg.a AND lm2.b = bg.b
  GROUP BY 1
),
fsum AS (
  SELECT t.doc_id, lm1.unats AS f_unats
  FROM (SELECT doc_id, w[1] AS tok FROM tok WHERE len(w) >= 1) t
  JOIN lm1 USING (tok)
)
SELECT t.doc_id,
       CAST(len(t.w) AS BIGINT) AS n_tokens,
       round(-(f.f_unats + coalesce(b.b_unats, 0)) / 1e6 / len(t.w), 6)
         AS xent
FROM tok t
LEFT JOIN fsum f USING (doc_id)
LEFT JOIN bsum b USING (doc_id)
"""


# ---- temperature-weighted mixture sampling ---------------------------------

# sqrt-share quantization units: the per-source sqrt(share) weights are
# floored to integer millionths BEFORE the cross-source normalization
# sum, so the only cross-row float sum in the budget math is exact
# BIGINT arithmetic (identical in any engine / summation order).
MIX_WEIGHT_UNITS = 1_000_000
# fraction of total corpus chars the sampled mixture may spend
MIX_BUDGET_FRAC = 0.3
# md5-prefix hex digits per ordered shard: 16 shards per source here;
# raise to 2-3 (256-4096 shards) at 100 TB so no window partition holds
# more than ~1/shards of a source
MIX_SHARD_HEX = 1


def q_doc_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted mixture sampling: build a training subset
    whose per-source char budgets follow w_d ∝ sqrt(share_d) — the
    standard temperature rebalance (τ=0.5) that up-samples rare domains
    and damps dominant ones (the mixture knob behind every pretraining
    data recipe; doc_domain_mix reports the τ=0 extreme of the same
    family). Within each source, documents are taken in deterministic
    md5(doc_id) order until the source's budget is spent (the document
    crossing the boundary is included), so the sample is content-stable
    across runs, engines, and re-ingests — no RNG, no seed state.

    Scale shape: the per-source running char total is computed as a
    SHARDED prefix sum, not one window over the whole source — docs are
    split into {16**MIX_SHARD_HEX} ordered shards by md5 prefix, each
    shard cumsums independently (bounded window partitions), and the
    per-(source, shard) totals (a dimension-sized table) turn into
    broadcast offsets. Same technique as doc_global_shuffle's sharded
    row_number: no window partition ever holds a whole source. The
    oracle states the equivalent naive per-source window — identical
    output because the prefix-sum arithmetic is all BIGINT.

    Budget math exactness: share ratios and sqrt are per-row IEEE ops
    (identical across engines); the one cross-source sum runs over
    integer-quantized weights; the final budget is floor() of a
    deterministic double product. No tolerance needed anywhere."""
    d = _documents(spark, sf_dir).select(
        "doc_id", "source", "n_chars",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    ).withColumn("shard", F.substring("h", 1, MIX_SHARD_HEX))

    shard_tot = d.groupBy("source", "shard").agg(
        F.sum("n_chars").alias("shard_chars")
    )
    # offsets: chars in all PRIOR shards of the same source (the shard
    # table is dimension-sized — sources x 16 — so this window is tiny)
    offs = shard_tot.withColumn(
        "offset",
        F.coalesce(
            F.sum("shard_chars").over(
                Window.partitionBy("source").orderBy("shard")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("source", "shard", "offset")

    per = shard_tot.groupBy("source").agg(
        F.sum("shard_chars").alias("chars_d")
    )
    tot = per.agg(F.sum("chars_d").alias("chars_total"))
    q = per.crossJoin(F.broadcast(tot)).withColumn(
        "q_d",
        F.floor(
            F.sqrt(F.col("chars_d") / F.col("chars_total"))
            * MIX_WEIGHT_UNITS + F.lit(0.5)
        ).cast("long"),
    )
    qsum = q.agg(F.sum("q_d").alias("q_sum"))
    budgets = q.crossJoin(F.broadcast(qsum)).select(
        "source",
        F.floor(
            F.col("chars_total") * MIX_BUDGET_FRAC
            * (F.col("q_d") / F.col("q_sum"))
        ).cast("long").alias("char_budget"),
    )

    local = Window.partitionBy("source", "shard").orderBy("h")
    return (
        d.withColumn("local_cum", F.sum("n_chars").over(local))
        .join(F.broadcast(offs), ["source", "shard"])
        .withColumn(
            "cum_chars", (F.col("local_cum") + F.col("offset")).cast("long")
        )
        .join(F.broadcast(budgets), "source")
        .filter(F.col("cum_chars") - F.col("n_chars") < F.col("char_budget"))
        .select("doc_id", "source", "n_chars", "cum_chars")
    )


DOC_MIXTURE_SAMPLE_SQL = f"""
WITH per AS (
  SELECT source, CAST(sum(n_chars) AS BIGINT) AS chars_d
  FROM documents GROUP BY 1
),
tot AS (SELECT CAST(sum(chars_d) AS BIGINT) AS chars_total FROM per),
q AS (
  SELECT source, chars_d, chars_total,
         CAST(floor(sqrt(chars_d * 1.0 / chars_total)
                    * {MIX_WEIGHT_UNITS} + 0.5) AS BIGINT) AS q_d
  FROM per, tot
),
qs AS (SELECT CAST(sum(q_d) AS BIGINT) AS q_sum FROM q),
budgets AS (
  SELECT source,
         CAST(floor(chars_total * {MIX_BUDGET_FRAC}
                    * (q_d * 1.0 / q_sum)) AS BIGINT) AS char_budget
  FROM q, qs
),
cum AS (
  SELECT doc_id, source, n_chars,
         CAST(sum(n_chars) OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR))
         ) AS BIGINT) AS cum_chars
  FROM documents
)
SELECT c.doc_id, c.source, c.n_chars, c.cum_chars
FROM cum c JOIN budgets b USING (source)
WHERE c.cum_chars - c.n_chars < b.char_budget
"""


# ---- duplicated-n-gram fraction (RefinedWeb/Gopher quality signal) ---------

# 5-word n-grams: the shortest span the published filters treat as
# boilerplate evidence (RefinedWeb dedups 5-grams; Gopher's "fraction
# of characters in duplicate n-grams" rules start at n=5)
DUP_NGRAM_N = 5
# an n-gram is "duplicated" when it appears in at least this many
# DISTINCT documents — the inter-document boilerplate signal (intra-doc
# repetition is doc_repetition's job)
DUP_NGRAM_MIN_DF = 2


def q_doc_dup_ngram_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-n-gram fraction — the RefinedWeb/Gopher
    quality signal: what share of a document's {DUP_NGRAM_N}-gram
    occurrences also appear in other documents. Boilerplate-heavy pages
    (navigation chrome, license footers, templated listings) score near
    1.0 and get filtered; original prose scores near 0.

    Output: (doc_id, n_ngrams, n_dup, dup_frac) for every document;
    docs shorter than {DUP_NGRAM_N} tokens emit n_ngrams = 0 and a NULL
    fraction (no evidence either way — the filter's decision, not the
    operator's).

    Determinism: counts are exact BIGINTs; dup_frac is one long/long
    IEEE division rounded to 6dp — no cross-row float accumulation.

    Scale shape: the n-gram occurrence stream is built MAP-SIDE from
    each doc's token array ({DUP_NGRAM_N} shifted slices zipped, then
    exploded — never a positional self-join of an exploded token
    table). Unlike the unigram/bigram LM tables, the {DUP_NGRAM_N}-gram
    document-frequency table is near corpus-sized (most 5-grams are
    unique), so it is NOT broadcast: occurrences shuffle once on the
    n-gram hash, the distinct-doc count reuses that exchange, and the
    flagged occurrences aggregate straight to doc_id — two wide
    exchanges total, both unavoidable for an inter-document signal.
    Skew note: a pathological n-gram appearing in millions of docs
    inflates one reducer in the df aggregation; AQE skew-join handles
    the join back, and the df table itself only ever carries one row
    per n-gram."""
    d = _documents(spark, sf_dir)
    base = d.select("doc_id", _tokens(F.col("text")).alias("toks")) \
        .withColumn("n", F.size("toks"))
    width = F.col("n") - F.lit(DUP_NGRAM_N - 1)
    # arrays_zip of DUP_NGRAM_N shifted slices (the slice-based n-gram
    # construction the bigram LM documents: positional element_at
    # inside a transform lambda re-evaluates per position, ~20x slower)
    zipped = F.arrays_zip(
        *[
            F.slice(F.col("toks"), i + 1, width).alias(f"w{i}")
            for i in range(DUP_NGRAM_N)
        ]
    )
    occ = (
        base.filter(F.col("n") >= DUP_NGRAM_N)
        .select("doc_id", F.explode(zipped).alias("g"))
        .select(
            "doc_id",
            F.concat_ws(
                " ", *[F.col(f"g.w{i}") for i in range(DUP_NGRAM_N)]
            ).alias("ng"),
        )
    )
    docfreq = occ.groupBy("ng").agg(
        F.countDistinct("doc_id").alias("df")
    )
    per_doc = (
        occ.join(docfreq, "ng")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_ngrams"),
            F.sum(
                (F.col("df") >= DUP_NGRAM_MIN_DF).cast("long")
            ).alias("n_dup"),
        )
    )
    return (
        base.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_ngrams"), F.lit(0)).cast("long")
            .alias("n_ngrams"),
            F.coalesce(F.col("n_dup"), F.lit(0)).cast("long")
            .alias("n_dup"),
            F.round(F.col("n_dup") / F.col("n_ngrams"), 6).alias("dup_frac"),
        )
    )


DOC_DUP_NGRAM_FRAC_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), ' +'),
                     x -> x <> '') AS w
  FROM documents
),
occ AS (
  SELECT doc_id,
         unnest([array_to_string(w[i : i + {DUP_NGRAM_N - 1}], ' ')
                 for i in range(1, len(w) - {DUP_NGRAM_N - 2})]) AS ng
  FROM tok WHERE len(w) >= {DUP_NGRAM_N}
),
docfreq AS (
  SELECT ng, count(DISTINCT doc_id) AS df FROM occ GROUP BY 1
),
per_doc AS (
  SELECT occ.doc_id,
         CAST(count(*) AS BIGINT) AS n_ngrams,
         CAST(sum(CASE WHEN df >= {DUP_NGRAM_MIN_DF} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_dup
  FROM occ JOIN docfreq USING (ng)
  GROUP BY 1
)
SELECT t.doc_id,
       coalesce(p.n_ngrams, CAST(0 AS BIGINT)) AS n_ngrams,
       coalesce(p.n_dup, CAST(0 AS BIGINT)) AS n_dup,
       round(p.n_dup * 1.0 / p.n_ngrams, 6) AS dup_frac
FROM tok t LEFT JOIN per_doc p USING (doc_id)
"""


# ---- DSIR importance resampling (hashed-feature data selection) ------------

# hashed-feature buckets (the DSIR paper's hashed n-gram space); target
# proxy = a fixed source whitelist (a stand-in for "Wikipedia-like")
DSIR_B = 1024
DSIR_K = 100
DSIR_TARGET_SOURCES = ("src0", "src1", "src2")


def q_doc_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. '23, hashed-feature
    variant): score every document by how much more likely its tokens
    are under a TARGET distribution than under the raw corpus, and
    keep the top {DSIR_K} -- the importance-resampling pass modern
    pretraining pipelines run to tilt a web crawl toward a
    high-quality domain without training a classifier.

    Features are hashed unigram buckets (md5-prefix % {DSIR_B}, the
    engine-portable spelling of the paper's hashed n-grams); the
    target here is the {DSIR_TARGET_SOURCES} source whitelist (a
    deterministic stand-in for the paper's Wikipedia+books target).
    Both bucket distributions are Laplace-smoothed ((cnt+1)/(N+B)),
    the per-bucket log ratio ln(p_target) - ln(p_raw) is quantized to
    integer micro-nats ONCE in the B-row bucket table (the
    order-independent-sum trick of :func:`q_doc_unigram_logprob`), and
    a document's score is the exact BIGINT sum over its token
    occurrences divided by its token count. Output: the selected
    (doc_id, n_tokens, score) set -- the top-{DSIR_K} cut is total
    (score DESC, doc_id ASC), so the DuckDB oracle reproduces the
    SELECTION bit-exactly; no rank column, because a global rank
    window would funnel through one partition (the shape
    test_plan_lint bans) and the set is already deterministic.

    Scale shape: two vocabulary-folds bounded at {DSIR_B} rows (map-
    side combinable), the B-row ratio table BROADCAST onto the token
    stream (per-doc agg needs no exchange on a doc_id-partitioned
    scan), and a global top-K that is TakeOrdered, never a full sort.
    Nothing here scales with corpus size except the token scan
    itself."""
    d = _documents(spark, sf_dir)
    toks = d.select(
        "doc_id", "source", F.explode(_tokens(F.col("text"))).alias("tok")
    ).withColumn(
        "z",
        F.pmod(
            F.conv(F.substring(F.md5("tok"), 1, 12), 16, 10).cast("long"),
            F.lit(DSIR_B),
        ),
    )
    raw = toks.groupBy("z").agg(F.count(F.lit(1)).alias("cnt_r"))
    tgt = (
        toks.filter(F.col("source").isin(*DSIR_TARGET_SOURCES))
        .groupBy("z").agg(F.count(F.lit(1)).alias("cnt_t"))
    )
    tot_r = raw.agg(F.sum("cnt_r").alias("n_r"))
    tot_t = tgt.agg(F.sum("cnt_t").alias("n_t"))
    ratio = (
        raw.join(tgt, "z", "left")
        .crossJoin(F.broadcast(tot_r))
        .crossJoin(F.broadcast(tot_t))
        .select(
            "z",
            F.floor(
                (
                    F.log(
                        (F.coalesce(F.col("cnt_t"), F.lit(0)) + 1)
                        / (F.col("n_t") + DSIR_B)
                    )
                    - F.log((F.col("cnt_r") + 1) / (F.col("n_r") + DSIR_B))
                ) * F.lit(1e6) + F.lit(0.5)
            ).cast("long").alias("lr_unats"),
        )
    )
    scored = (
        toks.join(F.broadcast(ratio), "z")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lr_unats").alias("unats"),
        )
        .select(
            "doc_id", "n_tokens",
            F.round(
                F.col("unats") / F.lit(1e6) / F.col("n_tokens"), 6
            ).alias("score"),
        )
    )
    return (
        scored.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(DSIR_K)
        .select("doc_id", "n_tokens", "score")
    )


_DSIR_SRC_LIST = ", ".join(f"'{s}'" for s in DSIR_TARGET_SOURCES)

DOC_DSIR_SAMPLE_SQL = f"""
WITH tok AS (
  SELECT doc_id, source,
         unnest(list_filter(string_split_regex(lower(trim(text)), ' +'),
                            x -> x <> '')) AS tok
  FROM documents
),
tz AS (
  SELECT doc_id, source,
         {hex_prefix_bigint_sql(12, "md5(tok)")} % {DSIR_B} AS z
  FROM tok
),
raw AS (SELECT z, count(*) AS cnt_r FROM tz GROUP BY 1),
tgt AS (
  SELECT z, count(*) AS cnt_t FROM tz
  WHERE source IN ({_DSIR_SRC_LIST}) GROUP BY 1
),
tot_r AS (SELECT sum(cnt_r) AS n_r FROM raw),
tot_t AS (SELECT sum(cnt_t) AS n_t FROM tgt),
ratio AS (
  SELECT raw.z,
         CAST(floor((ln((coalesce(tgt.cnt_t, 0) + 1.0)
                        / (tot_t.n_t + {DSIR_B}))
                     - ln((raw.cnt_r + 1.0) / (tot_r.n_r + {DSIR_B})))
                    * 1e6 + 0.5) AS BIGINT) AS lr_unats
  FROM raw LEFT JOIN tgt USING (z)
  CROSS JOIN tot_r CROSS JOIN tot_t
),
scored AS (
  SELECT tz.doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(r.lr_unats) AS BIGINT) AS unats
  FROM tz JOIN ratio r USING (z)
  GROUP BY 1
)
SELECT doc_id, n_tokens,
       round(unats / 1e6 / n_tokens, 6) AS score
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT {DSIR_K}
"""


# ---- hashed-feature quality classifier (fastText-shaped scorer) ------------

from .qc_weights import (  # noqa: E402
    QC_B,
    QC_BIAS,
    QC_KEEP_THRESHOLD,
    QC_WEIGHTS,
)


def score_documents_hashed(
    docs: DataFrame,
    weights: dict[int, int],
    bias: float,
    threshold: float,
    b: int = QC_B,
) -> DataFrame:
    """Linear scorer over md5-hashed unigram+bigram buckets: per doc,
    logit = sum(w_unats[z]) / 1e6 / n_feats + bias, keep = logit >
    threshold. Parameterized on the weight table so tests can plant
    vocabularies; the production entry point pins the trained fixture
    (plans/qc_weights.py). See :func:`q_doc_quality_classifier`."""
    spark = docs.sparkSession
    wdf = spark.createDataFrame(
        [(int(z), int(w)) for z, w in sorted(weights.items())],
        "z long, w_unats long",
    )
    base = docs.select(
        "doc_id", _tokens(F.col("text")).alias("toks")
    ).withColumn("n", F.size("toks"))
    uni = base.select("doc_id", F.explode("toks").alias("tok"))
    # map-side bigram stream: arrays_zip of two shifted slices (the
    # element_at-in-lambda trap documented in q_doc_bigram_logprob)
    pairs = F.arrays_zip(
        F.slice(F.col("toks"), 1, F.col("n") - 1).alias("a"),
        F.slice(F.col("toks"), 2, F.col("n") - 1).alias("b"),
    )
    bi = (
        base.filter(F.col("n") >= 2)
        .select("doc_id", F.explode(pairs).alias("bg"))
        .select(
            "doc_id",
            F.concat_ws(" ", F.col("bg.a"), F.col("bg.b")).alias("tok"),
        )
    )
    feats = uni.unionByName(bi).withColumn(
        "z",
        F.pmod(
            F.conv(F.substring(F.md5("tok"), 1, 12), 16, 10).cast("long"),
            F.lit(b),
        ),
    )
    scored = (
        feats.join(F.broadcast(wdf), "z", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum(F.coalesce(F.col("w_unats"), F.lit(0))).alias("unats"),
        )
        .select(
            "doc_id",
            "n_feats",
            F.round(
                F.col("unats") / F.lit(1e6) / F.col("n_feats") + F.lit(bias),
                6,
            ).alias("score"),
        )
    )
    return scored.select(
        "doc_id", "n_feats", "score",
        (F.col("score") > F.lit(threshold)).alias("keep"),
    )


def q_doc_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-classifier quality scoring (the r11 depth gap): a
    fastText-shaped linear model over md5-hashed unigram AND word-bigram
    buckets -- the learned scorer the selection stack lacked next to
    the rule-based Gopher screen (doc_quality) and the LM perplexity
    proxies (doc_unigram/bigram_logprob). Weights were trained offline
    by logistic regression against the quality-domain stand-in labels
    and PINNED as integer micro-nats (plans/qc_weights.py; measured
    train AUC 0.834, precision-at-15% 0.507 vs 0.150 base rate --
    bigram features carry most of the separation, see
    tools/train_quality_fixture.py). Output: (doc_id, n_feats, score,
    keep) where score is the exact quantized logit and keep flags the
    calibrated top slice.

    Scale shape: the weight table is vocabulary-INDEPENDENT (fixed
    {QC_B} hashed buckets, 623 nonzero) and broadcast; features are
    built map-side (explode + shifted-slice zip, no positional
    self-join); the only exchange is the per-doc aggregation, which
    reuses the doc_id-partitioned scan. Exactly the DSIR plan spine --
    a 2M-bucket production table is still single-digit MB broadcast."""
    return score_documents_hashed(
        _documents(spark, sf_dir),
        QC_WEIGHTS,
        QC_BIAS,
        QC_KEEP_THRESHOLD,
    )


def _qc_weights_values_sql() -> str:
    return ", ".join(
        f"({z}, {w})" for z, w in sorted(QC_WEIGHTS.items())
    )


DOC_QUALITY_CLASSIFIER_SQL = f"""
WITH qw(z, w_unats) AS (
  SELECT * FROM (VALUES {_qc_weights_values_sql()})
),
tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), ' +'),
                     x -> x <> '') AS w
  FROM documents
),
feats AS (
  SELECT doc_id, unnest(w) AS tok FROM tok
  UNION ALL
  SELECT doc_id,
         unnest(list_transform(range(1, len(w)),
                               i -> w[i] || ' ' || w[i + 1])) AS tok
  FROM tok
),
fz AS (
  SELECT doc_id,
         {hex_prefix_bigint_sql(12, "md5(tok)")} % {QC_B} AS z
  FROM feats
),
sc AS (
  SELECT fz.doc_id,
         CAST(count(*) AS BIGINT) AS n_feats,
         CAST(sum(coalesce(qw.w_unats, 0)) AS BIGINT) AS unats
  FROM fz LEFT JOIN qw USING (z)
  GROUP BY fz.doc_id
)
SELECT doc_id, n_feats,
       round(unats / 1e6 / n_feats + {QC_BIAS}, 6) AS score,
       round(unats / 1e6 / n_feats + {QC_BIAS}, 6) > {QC_KEEP_THRESHOLD}
         AS keep
FROM sc
"""


QUERIES = {
    "doc_mixture_sample": q_doc_mixture_sample,
    "doc_quality_classifier": q_doc_quality_classifier,
    "doc_dsir_sample": q_doc_dsir_sample,
    "doc_dup_ngram_frac": q_doc_dup_ngram_frac,
    "doc_repetition": q_doc_repetition,
    "doc_unigram_logprob": q_doc_unigram_logprob,
    "doc_ccnet_bucket": q_doc_ccnet_bucket,
    "doc_bigram_logprob": q_doc_bigram_logprob,
    "doc_length_histogram": q_doc_length_histogram,
    "doc_pii_scan": q_doc_pii_scan,
    "doc_domain_mix": q_doc_domain_mix,
    "doc_global_shuffle": q_doc_global_shuffle,
}

ORACLES = {
    "doc_mixture_sample": DOC_MIXTURE_SAMPLE_SQL,
    "doc_quality_classifier": DOC_QUALITY_CLASSIFIER_SQL,
    "doc_dsir_sample": DOC_DSIR_SAMPLE_SQL,
    "doc_dup_ngram_frac": DOC_DUP_NGRAM_FRAC_SQL,
    "doc_repetition": DOC_REPETITION_SQL,
    "doc_pii_scan": DOC_PII_SCAN_SQL,
    "doc_domain_mix": DOC_DOMAIN_MIX_SQL,
    "doc_global_shuffle": DOC_GLOBAL_SHUFFLE_SQL,
    "doc_unigram_logprob": DOC_UNIGRAM_LOGPROB_SQL,
    "doc_ccnet_bucket": DOC_CCNET_BUCKET_SQL,
    "doc_bigram_logprob": DOC_BIGRAM_LOGPROB_SQL,
    "doc_length_histogram": DOC_LENGTH_HISTOGRAM_SQL,
}
