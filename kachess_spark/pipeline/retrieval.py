"""Retrieval-pipeline operators over the documents table: BM25 scoring
and sliding-window chunking (the RAG/training-data preprocessing pair).

Reference parity note: the reference (yibingbingwu/kachess) has no text
retrieval surface — these are north-star additions per BASELINE.json,
designed Spark-first: every expression is a built-in string/array
function (JVM codegen, no Python UDFs), global statistics travel as a
1-row broadcast, and top-k is a TakeOrdered, never a full sort.

Determinism contract with the DuckDB oracle: term frequencies and
document lengths are integer length-arithmetic (no regex dialect
drift); the only floats are per-row IEEE ops on integer inputs plus one
ln(), and every emitted float is ROUND(..., 6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from kachess_spark.catalog import Tables, barrier
from kachess_spark.registry import query

# ------------------------------------------------------------- BM25

# Query terms for the benchmark corpus (TESTDATA.md synthetic vocabulary).
BM25_TERMS = ("spark", "query", "vector")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 20


def _tf(col: Column, term: str) -> Column:
    """Whole-word occurrence count via length arithmetic.

    ``" term "`` matches in adjacent positions overlap through the
    shared separator space ("x term term x"), so replace-counting would
    miss every second hit.  Doubling all spaces first makes each word
    flanked by two spaces while the single-spaced needle consumes only
    one from each flank — matches can no longer overlap.
    """
    padded = F.concat(F.lit(" "), F.lower(col), F.lit(" "))
    doubled = F.replace(padded, F.lit(" "), F.lit("  "))
    needle = f" {term} "
    return (
        (F.length(doubled) - F.length(F.replace(doubled, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("int")


def _tf_sql(term: str) -> str:
    needle = f" {term} "
    return (
        "CAST((length(replace(' ' || lower(text) || ' ', ' ', '  '))"
        f" - length(replace(replace(' ' || lower(text) || ' ', ' ', '  '), '{needle}', '')))"
        f" / {len(needle)} AS INT)"
    )


_DL_SQL = (
    "CAST(length(' ' || text || ' ')"
    " - length(replace(' ' || text || ' ', ' ', '')) AS BIGINT) - 1"
)


def _bm25_oracle() -> str:
    tf_cols = ",\n         ".join(
        f"{_tf_sql(t)} AS tf_{i}" for i, t in enumerate(BM25_TERMS)
    )
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(BM25_TERMS))
    )
    score = " + ".join(
        f"ln((s.n_docs - s.df_{i} + 0.5) / (s.df_{i} + 0.5) + 1)"
        f" * (d.tf_{i} * ({BM25_K1} + 1))"
        f" / (d.tf_{i} + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * d.dl"
        f" / (CAST(s.sum_dl AS DOUBLE) / s.n_docs)))"
        for i in range(len(BM25_TERMS))
    )
    return f"""
    WITH d AS (
      SELECT doc_id, {_DL_SQL} AS dl,
         {tf_cols}
      FROM documents
    ),
    s AS (
      SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl, {df_cols} FROM d
    )
    SELECT d.doc_id, CAST(d.dl AS BIGINT) AS doc_len,
           ROUND({score}, 6) AS bm25
    FROM d, s
    WHERE {" + ".join(f"d.tf_{i}" for i in range(len(BM25_TERMS)))} > 0
    ORDER BY bm25 DESC, d.doc_id
    LIMIT {BM25_TOPK}
    """


@query("text_bm25_search", _bm25_oracle())
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k document retrieval for a fixed query-term set.

    Scale design: term frequencies and document length are codegen
    length-arithmetic in ONE narrow pass over the corpus (no tokenize
    shuffle, no explode); the corpus statistics (N, Σdl, per-term df)
    reduce to a single broadcast row, so the score join moves zero
    corpus bytes; the final top-k is TakeOrdered (per-partition heap +
    driver merge of k rows), not a global sort.  At 100 TB the plan is
    scan → map → 1-row broadcast → heap-k: exactly one tiny shuffle
    (the global-agg combine).  avgdl is derived from the exact integer
    Σdl so no float-summation-order drift vs the oracle.
    """
    t = Tables(spark, sf_dir)
    d = t.documents.select(
        "doc_id",
        (
            F.length(F.concat(F.lit(" "), F.col("text"), F.lit(" ")))
            - F.length(
                F.replace(
                    F.concat(F.lit(" "), F.col("text"), F.lit(" ")),
                    F.lit(" "),
                    F.lit(""),
                )
            )
            - 1
        ).cast("bigint").alias("dl"),
        *[
            _tf(F.col("text"), term).alias(f"tf_{i}")
            for i, term in enumerate(BM25_TERMS)
        ],
    )
    stats = d.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(BM25_TERMS))
        ],
    )
    scored = d.join(F.broadcast(stats))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    score = None
    for i in range(len(BM25_TERMS)):
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{i}") + 0.5)
            / (F.col(f"df_{i}") + 0.5)
            + 1
        )
        tf = F.col(f"tf_{i}")
        part = idf * (tf * (BM25_K1 + 1)) / (
            tf + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / avgdl)
        )
        score = part if score is None else score + part
    any_hit = sum(F.col(f"tf_{i}") for i in range(len(BM25_TERMS))) > 0
    return (
        scored.where(any_hit)
        .select(
            "doc_id",
            F.col("dl").alias("doc_len"),
            F.round(score, 6).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(BM25_TOPK)
    )


# ------------------------------------------- sliding-window chunking

CHUNK_SIZE = 120
CHUNK_STRIDE = 90


@query(
    "text_chunk_overlap",
    oracle=f"""
    SELECT doc_id,
           CAST(start / {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(start AS BIGINT) AS start,
           CAST(length(substr(text, start + 1, {CHUNK_SIZE})) AS BIGINT)
             AS chunk_len,
           md5(substr(text, start + 1, {CHUNK_SIZE})) AS chunk_md5
    FROM (
      SELECT doc_id, text,
             unnest(range(0, GREATEST(length(text), 1), {CHUNK_STRIDE}))
               AS start
      FROM documents
    )
    ORDER BY doc_id, chunk_idx
    """,
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping sliding-window document chunking (size {120}, stride
    {90} → 30-char overlap) — the standard RAG / context-window prep.

    Scale design: the start-offset list is generated per-row with
    ``sequence()`` and exploded — a NARROW transformation (no shuffle
    anywhere in the plan); chunk text, length, and content hash are all
    codegen expressions.  Output grows by ~len/stride ≈ 1.1-4× the
    corpus rows, each chunk row carrying only (ids, offsets, md5) — the
    chunk text itself is hashed, not shipped, so 100 TB of text emits
    ~100 GB of fingerprint rows.  Downstream exact-dedup of chunks is a
    groupBy on chunk_md5 (see dedup_exact).
    """
    t = Tables(spark, sf_dir)
    n = F.length(F.col("text"))
    starts = F.sequence(
        F.lit(0),
        F.greatest(n, F.lit(1)) - 1,
        F.lit(CHUNK_STRIDE),
    )
    chunk = F.expr(f"substring(text, start + 1, {CHUNK_SIZE})")
    return (
        t.documents.select("doc_id", "text", F.explode(starts).alias("start"))
        .select(
            "doc_id",
            (F.col("start") / CHUNK_STRIDE).cast("bigint").alias("chunk_idx"),
            F.col("start").cast("bigint").alias("start"),
            F.length(chunk).cast("bigint").alias("chunk_len"),
            F.md5(chunk).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


# ----------------------------------------- tf-idf sparse-cosine pairs

TFIDF_DF_CAP = 100  # posting lists longer than this are pruned (stopword guard)
TFIDF_COS_MIN = 0.2
# Per-doc norm table broadcast gate: ~16 B/row -> 4M docs ~ 64 MB.
# Beyond that the final norm joins fall back to shuffle joins of the
# already-reduced dots/nrm tables (bigram auto-selection pattern).
TFIDF_NORM_BCAST_MAX_DOCS = 4_000_000

_TFIDF_WS = (
    "filter(split(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '')), ' '),"
    " w -> w != '')"
)
_TFIDF_SH = (
    "transform(sequence(0, size(ws) - 3),"
    " i -> concat_ws(' ', ws[i], ws[i + 1], ws[i + 2]))"
)

# Weights are quantized to 1e-6-fixed int64 (wq below) so every
# shuffled postings row is (int64 doc_id, int64 sfp, int64 wq) and the
# dot/norm math is EXACT integer arithmetic — the quantization is part
# of the operator's definition, mirrored here, and the 1e6 scale factor
# cancels in the cosine ratio so no descaling appears anywhere.
TFIDF_W_SCALE = 10**6

_TFIDF_PAIRS_ORACLE = f"""
WITH w AS (
  SELECT doc_id, list_filter(string_split(lower(
           regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')), ' '),
         x -> x <> '') AS ws
  FROM documents
), sh AS (
  SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle,
         count(*) AS tf
  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i FROM w)
  GROUP BY 1, 2
), n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM sh),
df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
kept AS (
  SELECT s.doc_id, s.shingle,
         CAST(ROUND(s.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df)
                    * {TFIDF_W_SCALE}, 0) AS BIGINT) AS wq
  FROM sh s JOIN df d USING (shingle) CROSS JOIN n
  WHERE d.df BETWEEN 2 AND {TFIDF_DF_CAP}
),
nrm AS (
  SELECT doc_id,
         sqrt(CAST(SUM(CAST(wq AS DECIMAL(38,0)) * wq) AS DOUBLE)) AS nrm
  FROM kept GROUP BY 1
),
dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(SUM(CAST(a.wq AS DECIMAL(38,0)) * b.wq) AS DOUBLE) AS dot
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, ROUND(dot / (na.nrm * nb.nrm), 6) AS cosine
FROM dots
JOIN nrm na ON na.doc_id = doc_a
JOIN nrm nb ON nb.doc_id = doc_b
WHERE ROUND(dot / (na.nrm * nb.nrm), 6) >= {TFIDF_COS_MIN}
ORDER BY doc_a, doc_b
"""


@query("text_tfidf_similar_pairs", _TFIDF_PAIRS_ORACLE)
def text_tfidf_similar_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF-weighted sparse cosine over word-3-gram shingles: the
    GRADED similarity complement to the set-based dedups — near-dups
    score ~1.0, partial template reuse scores fractionally, and the
    rare-shingle IDF weighting means boilerplate shared by many docs
    contributes ~nothing.  Pairs with cosine >= {TFIDF_COS_MIN} emit.

    Scale: an inverted-index join, never all-pairs — candidate pairs
    come from shared POSTINGS, and posting lists longer than
    {TFIDF_DF_CAP} docs are pruned (df-cap): a shingle shared by d
    docs contributes d*(d-1)/2 pairs, so the cap bounds per-key join
    fan-out at cap^2/2 while dropping exactly the boilerplate shingles
    IDF would near-zero anyway (df=1 lists are dropped too — they
    cannot form pairs).  The corpus constant N travels as a 1-row
    broadcast (the BM25 stats pattern); weight products accumulate in
    DECIMAL so the dot is summation-order independent; the one libm
    call (ln) is on an integer ratio with the result ROUND(6)-ed —
    the module's determinism contract.  Shingles collapse to 64-bit
    xxhash fingerprints IMMEDIATELY after the explode (the
    dedup_span_overlap trick): every shuffle, group and join key
    downstream is 8 bytes instead of a ~30-byte string — a 64-bit
    collision merging two shingles is ~n²/2⁶⁵, negligible against the
    ROUND(6) output granularity.

    Shuffle diet (round-5 VERDICT #6 — was ~0.9x of input bytes with
    the postings exchanged ~3x): the postings table is hash-partitioned
    on sfp ONCE, immediately after the explode, and persisted.  Every
    downstream postings-sized step — the df count (groupBy sfp), the
    df-cap join (on sfp) and the inverted-index self-join (on sfp) —
    reuses that partitioning, so EnsureRequirements inserts no further
    exchange for any of them (groupBy/join keys contain the
    partitioning key).  The only remaining exchanges carry REDUCED
    data: per-doc norm partials and candidate-pair dot partials, both
    map-side combined.  Weights travel as 1e-6-fixed int64 (wq): the
    quantization is part of the operator definition (oracle identical),
    shrinks the postings row to three int64s, and makes norms and dots
    EXACT integer sums — the scale factor cancels in the cosine ratio.
    The two stage caches are released before returning; the pair list
    is materialized distributed (an executor-side barrier), never
    on the driver — a 100 TB deployment would swap the checkpoint for
    a direct sink write, leaving the rest of the plan unchanged.
    """
    from kachess_spark.catalog import scaled_partitions

    t = Tables(spark, sf_dir)
    # corpus-proportional postings parallelism (round-11 verdict #3):
    # the explode writes ~40x the compressed document bytes (measured:
    # 23 MB exchange off 0.6 MB parquet at sf0.1, ~1.5 GB off 37 MB at
    # 64x), so a FIXED count leaves each slot carrying 47 MB at 64x and
    # the marginal octave crossed linear (2.26x) — size the exchange to
    # ~32 MB/task from the table's on-disk bytes instead
    shuffle_parts = scaled_partitions(
        spark, sf_dir, "documents", expansion=40.0
    )
    sh = (
        t.documents.select("doc_id", F.expr(_TFIDF_WS).alias("ws"))
        .where(F.size("ws") >= 3)
        .select("doc_id", F.explode(F.expr(_TFIDF_SH)).alias("shingle"))
        .select("doc_id", F.xxhash64("shingle").alias("sfp"))
        .repartition(shuffle_parts, "sfp")  # THE postings exchange
        .groupBy("doc_id", "sfp")  # keys ⊇ sfp → no re-exchange
        .agg(F.count("*").alias("tf"))
        # DISK_ONLY, not the deserialized-row default: the postings are
        # corpus-sized, and once the row cache outgrows the unified
        # region the evict-recompute cycle turns the marginal octave
        # superlinear (measured 2.3x/octave at 128x; a 4x-heap run made
        # it WORSE — 6x — via full-GC thrash on the bigger row cache).
        # Serialized-to-disk blocks are eviction-free and land in the
        # OS page cache at small scale, so the base wall is unchanged
        # while 128x drops to ~1.9x/octave (BASELINE.md round-11).
        .persist(StorageLevel.DISK_ONLY)
    )
    kept = None
    try:
        # Corpus constant: one driver-side scalar off the cached
        # postings (metadata-sized collect, the BM25 stats pattern).
        n_docs = sh.agg(F.countDistinct("doc_id")).first()[0]
        df = (
            sh.groupBy("sfp")  # partitioning key → no exchange
            .agg(F.count("*").alias("df"))
            .where(F.col("df").between(2, TFIDF_DF_CAP))
        )
        kept = (
            sh.join(df, "sfp")  # both sides hash(sfp) → no exchange
            .select(
                "doc_id",
                "sfp",
                F.round(
                    F.col("tf")
                    * F.log(F.lit(float(n_docs)) / F.col("df"))
                    * TFIDF_W_SCALE,
                    0,
                )
                .cast("long")
                .alias("wq"),
            )
            # feeds the norm agg and the self-join, still hash(sfp);
            # DISK_ONLY for the same eviction-free reason as sh above
            .persist(StorageLevel.DISK_ONLY)
        )
        # Materialize NOW: three consumers (norms + both self-join
        # sides) would otherwise each rebuild the join before the cache
        # fills — pure CPU waste on the cached-sh side.
        kept.count()
        nrm = kept.groupBy("doc_id").agg(
            F.sqrt(
                F.sum(F.expr("CAST(wq AS DECIMAL(38,0)) * wq")).cast(
                    "double"
                )
            ).alias("nrm")
        )
        # Per-doc norms attach to the POSTINGS before the self-join and
        # ride through the pair aggregation as constants-per-group (MIN
        # of a per-doc constant) — ZERO joins after the agg.  The old
        # shape joined norms onto the DOT table: pair-volume-sized
        # probes, twice — measured 68 s of the 186 s 128x wall vs 11 s
        # at 64x (the broadcast hash table outgrowing cache turns the
        # per-probe constant DRAM-bound); probing the postings instead
        # touches 4x fewer rows once and scales with input, not pairs.
        # Broadcast while the norm table fits (~16 B/row → gate at 4M
        # docs ≈ 64 MB); larger corpora fall back to a shuffle join on
        # doc_id of the postings (the bigram auto-selection pattern).
        if n_docs <= TFIDF_NORM_BCAST_MAX_DOCS:
            nrm = F.broadcast(nrm)
        nrmed = kept.join(nrm, "doc_id")
        a, b = nrmed.alias("a"), nrmed.alias("b")
        dots = (
            a.join(
                b,
                (F.col("a.sfp") == F.col("b.sfp"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .agg(
                F.sum(F.expr("CAST(a.wq AS DECIMAL(38,0)) * b.wq"))
                .cast("double")
                .alias("dot"),
                F.min(F.col("a.nrm")).alias("na"),
                F.min(F.col("b.nrm")).alias("nb"),
            )
        )
        cos = F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6)
        out = dots.select(
            "doc_a", "doc_b", cos.alias("cosine")
        ).where(F.col("cosine") >= TFIDF_COS_MIN)
        # No distributed orderBy: RangePartitioning's sampling pass
        # would re-execute the whole candidate pipeline a second time
        # (it doubled the pair-agg shuffle when measured) — and the
        # driver compare is order-insensitive, so none is needed.  No
        # driver collect either (a duplicate-heavy corpus makes the
        # pair list near-quadratic — driver OOM at scale).
        # barrier: boundary — the eager barrier materializes the pairs ON
        # THE EXECUTORS, truncating lineage so the two stage caches can
        # release in the finally without triggering a recompute of the
        # unbarriered plan.  sortWithinPartitions gives deterministic
        # display order at zero shuffle cost.
        return barrier(out.sortWithinPartitions("doc_a", "doc_b"), eager=True)
    finally:
        sh.unpersist()
        if kept is not None:
            kept.unpersist()
