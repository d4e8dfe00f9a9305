"""Scale-up proof for the job-floor claims (VERDICT r1 next-round #6).

Several bench queries have sub-0.5s DuckDB comparators at sf0.1, where
Spark's fixed per-job cost (scheduling, codegen reuse, Arrow collect)
dominates its measurement -- BASELINE.md calls them floor-bound. This
tool tests that claim: amplify the sf0.1 tables ~10x into a MULTI-FILE
layout (so scans parallelize from the file layout alone, like
production), run the same query + oracle pair on the bigger data, and
report both engines' times. If the claim is right, the Spark/DuckDB
ratio must FALL as data grows (fixed cost amortizes); a query whose
ratio grows instead is genuinely slow and gets flagged.

Amplification: 10 key-shifted copies of lineitem/orders/supplier/
embeddings/documents (copy 0 unshifted, so point lookups like the
profile ticker still resolve; join keys shift consistently so join
cardinalities scale linearly). Document copies get a per-copy marker
token prepended, which keeps the per-doc/aggregation corpus queries
honest at 10x -- but cross-copy texts remain ~identical, so the
NEAR-DUP queries (jaccard/minhash/simhash/clusters) must NOT run on the
amplified corpus: they would measure a manufactured quadratic blowup,
not a job floor. part/nation/region/customer copy through unchanged.

Usage: python tools/scale_proof.py [out_dir] [query ...]
Writes out_dir (default /tmp/sf1_scaleproof) once and reuses it.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

os.environ.setdefault(
    "PYSPARK_SUBMIT_ARGS",
    f"--driver-memory {os.environ.get('SPARK_DRIVER_MEMORY', '48g')} pyspark-shell",
)

# SPARK_GRAFT_SCALE_COPIES=20 (with a fresh out_dir) produces the
# second amplification point for the MAIN corpus, so the floor-bound
# ratio trends become two-point measurements like the near-dup family's
COPIES = int(os.environ.get("SPARK_GRAFT_SCALE_COPIES", "10"))
# amplification points for the decorrelated (Caesar / sign-flip)
# corpora; "50" extends the trend to the r11 50x de-risking datum
MULTS = tuple(
    int(m) for m in
    os.environ.get("SPARK_GRAFT_SCALE_MULTS", "10,20").split(",")
)
# timed Spark repetitions after the warmup pass (min-of-REPS is
# reported); large amplifications (100x) can drop to 2 so one datum
# doesn't cost four full passes over a 500k-doc corpus
REPS = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "3"))
SRC = "/root/testdata/sf0.1"
SHIFTS = {  # table -> {column: stride}; strides exceed any source key
    "lineitem": {"l_orderkey": 10_000_000, "l_suppkey": 1_000_000},
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 1_000_000},
    "supplier": {"s_suppkey": 1_000_000},
    "embeddings": {"vec_id": 1_000_000},
    "documents": {"doc_id": 1_000_000},
}
COPY_THROUGH = ("part", "nation", "region", "customer")
N_FILES = 8  # multi-file layout: scans parallelize without repartition

QUERIES = [
    # floor-bound claims to prove
    "annual_period_filter", "upsert_latest_wins", "top_k_orders",
    "emb_ann_topk", "emb_ivf_ann_topk", "emb_lsh_ann_topk",
    "emb_lsh_neardup",
    # previously perf-weak: confirm the ratio trend at 10x
    "statements_annual", "ratios_annual", "screener",
    "window_dedup_latest", "pivot_wide",
    # r4 additions (documents now amplified with per-copy markers;
    # near-dup queries deliberately absent -- see module docstring)
    "doc_repetition", "doc_unigram_logprob", "doc_bigram_logprob",
    "doc_pii_scan",
    "doc_global_shuffle", "emb_int8_quantize", "emb_pq_ann_topk",
    # r5: paragraph dedup runs on the marker-amplified corpus ON
    # PURPOSE -- cross-copy paragraphs past each copy's first chunk are
    # identical, which is exactly the corpus-wide boilerplate workload
    # the operator exists for, and the hash-keyed winner election stays
    # linear in it (unlike the near-dup pair queries, which stay out).
    "doc_paragraph_dedup",
    # r8: span dedup runs on the marker-amplified corpus for the same
    # reason as paragraph dedup: cross-copy spans ARE the boilerplate
    # workload, and the shingle winner election stays linear in it
    "doc_span_dedup",
    # r5 continuation: staged retrieval + mixture sampling on the
    # amplified embeddings/documents
    "emb_prefix_rerank_topk",
    "doc_mixture_sample",
    # r8: token-window chunking — map-side explode, floor-bound at sf0.1
    "doc_chunk",
    # r8: duplicated-n-gram fraction runs on the marker-amplified
    # corpus ON PURPOSE (like paragraph/span dedup): cross-copy texts
    # past the marker ARE the boilerplate workload, and the df-join
    # shape stays linear in it — only the pairwise near-dup queries
    # must stay out
    "doc_dup_ngram_frac",
    # r10: eval-set decontamination — the n-gram semi-join twin of
    # doc_dup_ngram_frac; marker amplification multiplies the document
    # n-gram stream linearly while the eval-set side stays fixed, the
    # honest workload (the only non-floor-proven entry without a
    # two-point trend per the r9 verdict)
    "doc_decontaminate",
    # r8: IVF+PQ composed ANN — cell-pruned ADC scan, the FAISS IVFPQ
    # layout; proves the composition keeps the pieces' scaling
    "emb_ivf_pq_ann_topk",
    # r8: ANN-path hard-negative mining — the IVFPQ search plus a
    # label filter ahead of the pool cut; proves mining cost tracks the
    # ANN query cost, not the corpus sweep, as data grows
    "emb_hard_negatives_ann",
    # r8: A-ES weighted sampling — per-doc key + TakeOrdered, marker
    # amplification leaves the draw arithmetic untouched
    "doc_weighted_sample",
    # r8: CCNet bucketing — the unigram LM pass plus one scalar
    # percentile aggregate; marker amplification is the same honest
    # workload as the LM scorers it composes
    "doc_ccnet_bucket",
    # r9: DSIR importance resampling — two B-bounded bucket folds + a
    # broadcast ratio join + TakeOrdered; marker amplification leaves
    # the bucket arithmetic untouched (same regime as the LM scorers)
    "doc_dsir_sample",
    # r10: pHash fingerprints — one Arrow-batched raster+DCT map pass,
    # no shuffle; marker amplification just multiplies the row count
    "image_phash",
]

PER_QUERY_CAP_SEC = 300.0

# Near-dup queries get their OWN amplified corpus (VERDICT r4 item 2):
# the marker-token amplification leaves cross-copy texts ~identical, so
# running a near-dup query on it would measure a manufactured quadratic
# clique blowup. Here each copy i>0 is passed through a per-copy
# character bijection instead -- Caesar rotation for i < 26, md5-seeded
# random permutation for i >= 26 (see build_neardup's docstring for the
# r12 post-mortem on why rotations alias above the alphabet period):
# within a copy every document translates identically, so the copy's
# internal near-dup structure (token overlap, hamming distances) is
# preserved, while cross-copy token hashes decorrelate completely --
# candidate density scales linearly, exactly like independent shards of
# a bigger corpus.
# generator version stamped into each decorrelated dir's .gen marker:
# bump when build_neardup's construction changes so stale dirs can
# never be silently remeasured (the .copies trick, for semantics)
NEARDUP_GEN = "caesar26+perm-v2"

NEARDUP_QUERIES = [
    "doc_simhash_neardup",
    # r8: edit-distance blocking near-dup -- the Caesar translation
    # preserves within-copy Levenshtein distances exactly (character
    # bijection) while cross-copy prefixes/suffixes decorrelate, so
    # candidate density scales linearly like the other near-dup ops.
    "doc_editdist_neardup",
    # r12: the ER decision query -- the same blocking+verify core plus
    # the connected-components closure over the verified pair graph,
    # which the neardup datum above cannot see (VERDICT r11 weak entry #1)
    "doc_editdist_clusters",
    # r8: the MinHash chain's scale datums run here too -- their DuckDB
    # comparator is the exhaustive all-pairs oracle (O(n^2) list
    # intersections), so expect it to hit PER_QUERY_CAP_SEC at 10x; the
    # Spark-side absolute seconds vs sf0.1 are the super-linearity
    # check that matters (candidate density on the Caesar corpus grows
    # linearly by construction).
    "doc_minhash_lsh_dedup",
    "doc_dedup_clusters",
    # r10: pHash banded Hamming near-dup -- the Caesar translation
    # shifts every character code identically within a copy, so
    # within-copy raster/hash structure is preserved while cross-copy
    # pixel profiles decorrelate, same linear-candidate story as the
    # text near-dup family
    "image_neardup",
    # r8: the MinHash accuracy audit rides the same banded-candidate
    # pipeline (audit cost O(pairs)); its oracle is the exhaustive
    # all-pairs join, expected to hit the cap like the dedup twins
    "doc_minhash_jaccard_est",
    # r11: the unigram-LM pair runs on the Caesar corpus ON PURPOSE,
    # not as near-dup queries but because the rotation is the
    # VOCABULARY-SCALED datum the r10 verdict asked for: each copy's
    # tokens rotate to distinct words, so the LM table grows ~linearly
    # with copies (the marker corpus holds vocabulary fixed at the
    # source's ~40 tokens -- DuckDB's hash-agg sweet spot, the
    # confound behind the 2.3x-at-20x residual).
    "doc_unigram_logprob",
    "doc_ccnet_bucket",
    # r11 cont.: the bigram LM joins the vocab-scaled datum set -- its
    # pair vocabulary grows even faster under the rotation (distinct
    # bigrams scale ~linearly with copies like unigrams, but from a
    # much larger base), the same floor-closure test
    "doc_bigram_logprob",
]
# Embedding-space near-dup/graph queries get the same treatment as the
# text near-dup family: the main amplification copies embeddings
# UNCHANGED (shifted ids only), so every vector gains copies-1 exact
# duplicates and any all-corpus pair/graph query would measure a
# manufactured duplicate-clique blowup. Copy i>0 here multiplies every
# dimension by a deterministic md5-parity +-1 sign instead -- an
# ISOMETRY (within-copy cosines, norms, and LSH bucket structure are
# preserved exactly) while cross-copy cosines decorrelate to ~0 under
# the random sign pattern -- so candidate density scales linearly like
# independent shards of a bigger corpus, the honest workload.
# The audio fingerprint canNOT ride the Caesar corpus: the rotation
# is ~a constant code shift and text_pcm_np's zero-centering REMOVES
# constant shifts, so cross-copy fingerprints stay near-identical and
# the pair set blows up quadratically (measured at 50x: the collected
# result exceeded spark.driver.maxResultSize -- the exact manufactured
# blowup this module's docstring forbids; the image raster survives
# the rotation only because its UN-centered pixel windows feel the
# wrap-arounds). Audio gets its own corpus: copy i>0 applies a
# per-copy md5-seeded RANDOM PERMUTATION of letters+digits -- a
# bijection, so each copy's internal near-dup density matches the
# source's while cross-copy CODE sequences scramble. Residual honesty
# caveat, measured: any character bijection preserves SPACES, and the
# synthetic corpus's templated word-length rhythm -- which dominates
# the envelope spectrum -- gives a ~1% background collision density
# that no text-level decorrelation removes. PAIR-output queries
# (audio_neardup) therefore grow quadratically in OUTPUT SIZE on this
# corpus regardless of engine (real audio shards decorrelate far
# better); the scale datum is the DECISION query instead, whose
# output is corpus-sized and whose internal banded join + union-find
# closure is the same plan shape proven linear on the image twin.
NEARDUP_AUDIO_QUERIES = [
    "audio_dedup_clusters",
]


def build_neardup_audio(spark, out_dir: str, copies: int = COPIES) -> None:
    import hashlib
    import random

    from pyspark.sql import functions as F

    src = spark.read.parquet(f"{SRC}/documents.parquet")
    chars = _ALPHA + _ALPHA.upper() + _DIGIT
    parts = [src]
    for i in range(1, copies):
        rng = random.Random(
            int(hashlib.md5(f"audioperm_{i}".encode()).hexdigest()[:15], 16)
        )
        perm = list(chars)
        rng.shuffle(perm)
        parts.append(
            src.withColumn("doc_id", F.col("doc_id") + F.lit(i * 1_000_000))
            .withColumn("text", F.translate("text", chars, "".join(perm)))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(N_FILES).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )


NEARDUP_EMB_QUERIES = [
    "emb_knn_graph",
    # NN-descent round: the 2-hop expansion is k^2-bounded per vector,
    # so its cost tracks the seed graph's candidate density -- measured
    # on the same decorrelated corpus
    "emb_knn_refine",
    # r11: the recall-audit pair (the only non-capped family without a
    # two-point trend per the r10 verdict). Copy 0 keeps the original
    # query ids, so the eval set stays 10 queries while the corpus the
    # exact brute-force pass must sweep grows linearly -- the honest
    # audit-cost workload; the sampled variant is the at-scale shape
    # (cost proportional to the md5 query sample).
    "emb_ann_recall",
    "emb_ann_recall_sampled",
]
_ALPHA = "abcdefghijklmnopqrstuvwxyz"
_DIGIT = "0123456789"


def build_neardup_emb(spark, out_dir: str, copies: int = COPIES) -> None:
    import hashlib

    from pyspark.sql import functions as F

    src = spark.read.parquet(f"{SRC}/embeddings.parquet")
    dim = len(src.select("embedding").first()[0])
    parts = [src]
    for i in range(1, copies):
        flips = F.array(*[
            F.lit(
                1.0
                if int(hashlib.md5(f"flip_{i}_{d}".encode())
                       .hexdigest()[:15], 16) & 1
                else -1.0
            )
            for d in range(dim)
        ])
        parts.append(
            src.withColumn("vec_id", F.col("vec_id") + F.lit(i * 1_000_000))
            .withColumn(
                "embedding",
                F.zip_with(
                    "embedding", flips, lambda x, s: (x * s).cast("float")
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(N_FILES).write.mode("overwrite").parquet(
        f"{out_dir}/embeddings.parquet"
    )


def build_neardup(spark, out_dir: str, copies: int = COPIES,
                  src_dir: str | None = None) -> None:
    """Decorrelated document corpus: copy 0 unshifted; copies 1..25 are
    Caesar rotations (kept so the 10x/20x corpora and their recorded
    datums stay byte-comparable across rounds); copies >= 26 get a
    per-copy md5-seeded RANDOM PERMUTATION of letters+digits (the
    audio builder's construction) instead.

    Why the switch at 26 (r12 post-mortem): the alphabet has only 26
    rotations, and ``_ALPHA[i:]`` for i >= 26 silently slices past the
    end, degenerating the rotation to the IDENTITY -- so the r11 "50x"
    corpus had copies 26..49 letter-identical to copy 0 (copies 30, 40
    byte-identical mod the id shift). Measured on that corpus,
    doc_minhash_lsh_dedup emitted 1.65M pairs, 99% cross-copy at
    J~=0.997 -- the manufactured quadratic blowup this module's
    docstring forbids, which the 50x Spark absolutes (86.4 s) were
    quietly paying for. A seeded permutation is the same
    structure-preserving bijection with a 62!-sized family: no
    multiplicity aliases it."""
    import hashlib
    import random

    from pyspark.sql import functions as F

    src = spark.read.parquet(f"{src_dir or SRC}/documents.parquet")
    chars = _ALPHA + _ALPHA.upper() + _DIGIT
    parts = [src]
    for i in range(1, copies):
        if i < 26:
            rot_a = _ALPHA[i:] + _ALPHA[:i]
            rot_d = _DIGIT[i % 10:] + _DIGIT[: i % 10]
            subst = rot_a + rot_a.upper() + rot_d
        else:
            rng = random.Random(
                int(hashlib.md5(f"textperm_{i}".encode())
                    .hexdigest()[:15], 16)
            )
            lower = list(_ALPHA)
            rng.shuffle(lower)
            digit = list(_DIGIT)
            rng.shuffle(digit)
            # case-consistent like the Caesar branch: upper mirrors
            # lower, so case-folding pipelines see one bijection
            subst = "".join(lower) + "".join(lower).upper() \
                + "".join(digit)
        c = (
            src.withColumn("doc_id", F.col("doc_id") + F.lit(i * 1_000_000))
            .withColumn("text", F.translate("text", chars, subst))
        )
        parts.append(c)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.repartition(N_FILES).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )


def build(spark, out_dir: str) -> None:
    from pyspark.sql import functions as F

    for name, shifts in SHIFTS.items():
        src = spark.read.parquet(f"{SRC}/{name}.parquet")
        parts = []
        for i in range(COPIES):
            c = src
            for col, stride in shifts.items():
                c = c.withColumn(col, F.col(col) + F.lit(i * stride))
            if name == "supplier" and i > 0:
                # unique tickers per copy (star_companies upper(s_name));
                # copy 0 keeps originals so point lookups still hit
                c = c.withColumn(
                    "s_name", F.concat(F.col("s_name"), F.lit(f"_C{i}"))
                )
            if name == "documents" and i > 0:
                # per-copy marker token: keeps per-doc stats distinct
                # across copies (near-dup queries stay EXCLUDED -- see
                # module docstring). n_chars tracks the prepended marker
                # so metadata stays consistent with the text.
                marker = f"copy{i} "
                c = c.withColumn(
                    "text", F.concat(F.lit(marker), F.col("text"))
                ).withColumn(
                    "n_chars", F.col("n_chars") + F.lit(len(marker))
                )
            parts.append(c)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.repartition(N_FILES).write.mode("overwrite").parquet(
            f"{out_dir}/{name}.parquet"
        )
    for name in COPY_THROUGH:
        spark.read.parquet(f"{SRC}/{name}.parquet").repartition(
            2
        ).write.mode("overwrite").parquet(f"{out_dir}/{name}.parquet")


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1_scaleproof"
    only = sys.argv[2:]
    from sec_xbrl_finwarehouse_spark.session import get_spark
    from sec_xbrl_finwarehouse_spark.schemas import STAR_TABLES
    import __spark_entry__ as entrymod

    spark = get_spark("scale-proof")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # the .copies marker pins the amplification a directory was built
    # at: silently reusing a 10x dir for a 20x run would record wrong
    # datums, so a mismatch is a hard error, not a quiet reuse
    marker = os.path.join(out_dir, ".copies")
    if not os.path.exists(f"{out_dir}/lineitem.parquet"):
        t0 = time.time()
        build(spark, out_dir)
        with open(marker, "w") as fh:
            fh.write(str(COPIES))
        print(f"built {out_dir} in {time.time() - t0:.1f}s", file=sys.stderr)
    else:
        built_at = int(open(marker).read()) if os.path.exists(marker) else 10
        if built_at != COPIES:
            raise SystemExit(
                f"{out_dir} was built at {built_at}x but COPIES={COPIES}: "
                "point at a fresh out_dir for a different amplification"
            )

    qmap = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = [n for n in QUERIES if n in qmap and (not only or n in only)]

    import duckdb

    con = duckdb.connect()
    con.sql(f"SET threads TO {os.cpu_count()}")
    for t in STAR_TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{out_dir}/{t}.parquet/*.parquet'"
        )

    def duck_time(sql: str, con) -> tuple[float, bool]:
        done = threading.Event()

        def watchdog():
            if not done.wait(PER_QUERY_CAP_SEC):
                con.interrupt()

        best, capped = float("inf"), False
        for _ in range(2):
            w = threading.Thread(target=watchdog, daemon=True)
            w.start()
            t0 = time.time()
            try:
                con.sql(sql).fetchall()
                best = min(best, time.time() - t0)
            except Exception as ex:
                if time.time() - t0 >= PER_QUERY_CAP_SEC - 1:
                    capped = True
                    best = min(best, PER_QUERY_CAP_SEC)
                else:  # a real error, not the watchdog: surface it
                    raise RuntimeError(f"oracle failed (not a timeout): {ex}")
            finally:
                done.set()
            done.clear()
            if capped:
                # a capped run cannot improve on retry; don't burn
                # another PER_QUERY_CAP_SEC of pure watchdog wait
                break
        return best, capped

    def measure(name: str, data_dir: str, duck_con) -> dict:
        qmap[name](spark, data_dir).toPandas()  # warmup
        spark.catalog.clearCache()
        best = float("inf")
        for _ in range(REPS):
            t0 = time.time()
            qmap[name](spark, data_dir).toPandas()
            best = min(best, time.time() - t0)
            spark.catalog.clearCache()
        d, capped = (
            duck_time(oracles[name], duck_con)
            if name in oracles else (None, False)
        )
        return {
            "spark_sec": round(best, 3),
            "duckdb_sec": None if d is None else round(d, 3),
            "duckdb_capped": capped,
            "ratio": None if not d else round(best / d, 2),
        }

    results = {}
    for name in names:
        results[name] = measure(name, out_dir, con)
        print(json.dumps({"query": name, **results[name]}), file=sys.stderr)

    neardup_names = [
        n for n in NEARDUP_QUERIES if n in qmap and (not only or n in only)
    ]
    if neardup_names:
        # multiple amplification points so the ratio TREND is a
        # measurement, not an extrapolation (MULTS; default 10x + 20x)
        for mult in MULTS:
            nd_dir = f"{out_dir}_neardup{'' if mult == 10 else mult}"
            gen_marker = os.path.join(nd_dir, ".gen")
            if os.path.exists(f"{nd_dir}/documents.parquet"):
                # dirs built before the r12 generator fix carry no .gen
                # marker; for <= 26 copies the corpora are byte-identical
                # either way, but a stale high-multiplicity dir is the
                # degenerate-identity corpus -- refuse to measure on it
                gen = (open(gen_marker).read()
                       if os.path.exists(gen_marker) else "caesar-v1")
                if mult > 26 and gen != NEARDUP_GEN:
                    raise SystemExit(
                        f"{nd_dir} was built by generator '{gen}' which "
                        f"degenerates above 26 copies (r12 post-mortem); "
                        "delete it or point at a fresh out_dir"
                    )
            else:
                t0 = time.time()
                build_neardup(spark, nd_dir, copies=mult)
                with open(gen_marker, "w") as fh:
                    fh.write(NEARDUP_GEN)
                print(f"built {nd_dir} in {time.time() - t0:.1f}s",
                      file=sys.stderr)
            nd_con = duckdb.connect()
            nd_con.sql(f"SET threads TO {os.cpu_count()}")
            nd_con.sql(
                "CREATE VIEW documents AS SELECT * FROM "
                f"'{nd_dir}/documents.parquet/*.parquet'"
            )
            for name in neardup_names:
                # queries measured on BOTH corpora (the vocab-scaled
                # LM pair) keep their marker-corpus row under the bare
                # name; Caesar rows always carry the suffix then
                key = name if mult == 10 and name not in QUERIES \
                    else f"{name}@caesar{mult}x" if name in QUERIES \
                    else f"{name}@{mult}x"
                results[key] = {
                    **measure(name, nd_dir, nd_con),
                    "corpus": f"neardup-decorrelated x{mult}",
                }
                print(json.dumps({"query": key, **results[key]}),
                      file=sys.stderr)

    nda_names = [
        n for n in NEARDUP_AUDIO_QUERIES
        if n in qmap and (not only or n in only)
    ]
    if nda_names:
        for mult in MULTS:
            nda_dir = f"{out_dir}_ndaudio{'' if mult == 10 else mult}"
            if not os.path.exists(f"{nda_dir}/documents.parquet"):
                t0 = time.time()
                build_neardup_audio(spark, nda_dir, copies=mult)
                print(f"built {nda_dir} in {time.time() - t0:.1f}s",
                      file=sys.stderr)
            nda_con = duckdb.connect()
            nda_con.sql(f"SET threads TO {os.cpu_count()}")
            nda_con.sql(
                "CREATE VIEW documents AS SELECT * FROM "
                f"'{nda_dir}/documents.parquet/*.parquet'"
            )
            for name in nda_names:
                key = name if mult == 10 else f"{name}@{mult}x"
                results[key] = {
                    **measure(name, nda_dir, nda_con),
                    "corpus": f"perm-decorrelated x{mult}",
                }
                print(json.dumps({"query": key, **results[key]}),
                      file=sys.stderr)

    nde_names = [
        n for n in NEARDUP_EMB_QUERIES if n in qmap and (not only or n in only)
    ]
    if nde_names:
        for mult in MULTS:
            nde_dir = f"{out_dir}_ndemb{'' if mult == 10 else mult}"
            if not os.path.exists(f"{nde_dir}/embeddings.parquet"):
                t0 = time.time()
                build_neardup_emb(spark, nde_dir, copies=mult)
                print(f"built {nde_dir} in {time.time() - t0:.1f}s",
                      file=sys.stderr)
            nde_con = duckdb.connect()
            nde_con.sql(f"SET threads TO {os.cpu_count()}")
            nde_con.sql(
                "CREATE VIEW embeddings AS SELECT * FROM "
                f"'{nde_dir}/embeddings.parquet/*.parquet'"
            )
            for name in nde_names:
                key = name if mult == 10 else f"{name}@{mult}x"
                results[key] = {
                    **measure(name, nde_dir, nde_con),
                    "corpus": f"sign-flip-decorrelated x{mult}",
                }
                print(json.dumps({"query": key, **results[key]}),
                      file=sys.stderr)

    print(json.dumps(
        {"sf": f"sf0.1 x{COPIES} multi-file", "results": results}
    ))


if __name__ == "__main__":
    main()
