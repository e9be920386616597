"""Deduplication operators over the documents table.

Exact (hash-groupBy), MinHash+LSH candidates and the verified fuzzy
chain, n-gram Jaccard + asymmetric containment, SimHash, span-level
duplication, embedding-cosine and SemDeDup semantic-cluster dedup,
connected components, the incremental band index, and the broadcast
Bloom reference filter.

Scale design: nothing here is all-pairs.  Exact dedup shuffles on a
16-byte digest; MinHash candidates come from band-bucket joins (only
docs sharing a band collide); Jaccard/containment verification runs
relationally on candidates; every adaptive constant (sign bits,
cluster count) derives from the corpus count with the same rule
inlined in its oracle.  MinHash uses md5(salt || shingle) with the
*lexicographic* min — a portable permutation-free MinHash whose
oracle twin is plain SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kachess_spark.catalog import Tables, barrier, scaled_partitions, spread
from kachess_spark.registry import query

N_HASHES = 6  # minhash signature length
BAND_SIZE = 2  # rows per LSH band → 3 bands; bands match at J≳0.5


def _canon(col):
    """Canonical token stream: lowercase, alnum+space only."""
    return F.lower(F.regexp_replace(col, "[^a-zA-Z0-9 ]", ""))


_CANON_SQL = "lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))"


# NOTE: shingle + minhash expressions use F.expr with explicit SQL
# lambda variables.  Nesting PySpark python-lambda higher-order
# functions (transform inside transform) mis-binds the lambda variables
# — explicit SQL text has no such ambiguity.
_WORDS_EXPR = "split(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '')), ' ')"
_SHINGLES_EXPR = """
    array_distinct(transform(
      sequence(0, size(words) - 3),
      i -> concat_ws(' ', words[i], words[i + 1], words[i + 2])))
"""


def _with_shingles(docs: DataFrame, *keep: str, **block: Column) -> DataFrame:
    """Per ≥3-word doc its (doc_id, *keep, *block, shingles) row: the
    distinct word-3-gram shingle array, ``keep`` columns passed through
    and ``block`` columns computed from ``words``.

    The documents are ``spread`` before the CPU-bound regex / shingle
    compute, and the result is checkpointed (lazily) before any
    consumer: downstream explode()s inject `isnotnull(shingles) AND
    size(shingles) > 0` predicates that Catalyst pushes into a
    non-codegen Filter, re-evaluating the whole interpreted lambda chain
    ~10× per row (observed 30s for a 0.5s explode).  Materializing the
    shingle arrays once makes every consumer read plain vectors."""
    # barrier: boundary — the explode-pushdown trap (see above)
    return barrier(
        spread(docs.select("doc_id", *keep, "text"), "doc_id")
        .select("doc_id", *keep, F.expr(_WORDS_EXPR).alias("words"))
        .where(F.size("words") >= 3)
        .select(
            "doc_id",
            *keep,
            *(c.alias(name) for name, c in block.items()),
            F.expr(_SHINGLES_EXPR).alias("shingles"),
        )
    )


def _shingle_postings(
    docs: DataFrame, **block: Column
) -> tuple[DataFrame, DataFrame]:
    """``(sh, expl)``: the :func:`_with_shingles` rows keeping ``lang``
    and ``block``, and their exploded postings (doc_id, lang, *block,
    n_sh, shingle), checkpointed too, since the self-join reads them
    twice."""
    sh = _with_shingles(docs, "lang", **block)
    # barrier: reuse — the self-join reads the postings twice
    expl = barrier(sh.select(
        "doc_id",
        "lang",
        *block,
        F.size("shingles").alias("n_sh"),
        F.explode("shingles").alias("shingle"),
    ))
    return sh, expl


def _shingle_matches(expl: DataFrame, pair: Column, *block: str) -> DataFrame:
    """Self-join of shingle postings as ``a`` × ``b``: equal lang, equal
    ``block`` keys and equal shingle, pairs kept by ``pair``.  One row
    per shared shingle, so a pair's row count is its intersection."""
    a, b = expl.alias("a"), expl.alias("b")
    on = F.col("a.lang") == F.col("b.lang")
    for key in (*block, "shingle"):
        on = on & (F.col(f"a.{key}") == F.col(f"b.{key}"))
    return a.join(b, on & pair)


_SHINGLES_SQL = f"""
    list_distinct(list_transform(
      range(1, len(string_split({_CANON_SQL}, ' ')) - 1),
      i -> string_split({_CANON_SQL}, ' ')[i] || ' ' ||
           string_split({_CANON_SQL}, ' ')[i+1] || ' ' ||
           string_split({_CANON_SQL}, ' ')[i+2]))
"""


def _minhash_cols() -> list:
    """mh_0..mh_{N-1} minhash expressions over a ``shingles`` column."""
    return [
        F.expr(
            f"array_min(transform(shingles, s -> md5(concat('s{i}|', s))))"
        ).alias(f"mh_{i}")
        for i in range(N_HASHES)
    ]


def minhash_signature(doc: DataFrame) -> DataFrame:
    """doc_id + mh_0..mh_{N-1} minhash columns (library entry point).

    MinHash via min(md5(salt_i || shingle)) — a permutation-free,
    engine-portable MinHash (lexicographic min over salted digests).
    """
    return _with_shingles(doc).select("doc_id", *_minhash_cols())


def _oracle_minhash(i: int) -> str:
    return (
        f"list_aggregate(list_transform({_SHINGLES_SQL},"
        f" s -> md5('s{i}|' || s)), 'min') AS mh_{i}"
    )


# ----------------------------------------- MinHash-LSH banding, defined once
# Band b is mh_{b*BAND_SIZE} .. mh_{(b+1)*BAND_SIZE-1} joined with '|'.
# Every LSH operator here and every ingest gate (streaming/windows.py)
# bands through _band_rows; every oracle through _sql_sig_bands.


def _band_rows(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) rows of a minhash signature frame.  One
    posexplode, not a union of per-band selects (which would re-derive
    the signature once per branch)."""
    band_structs = F.array(
        *[
            F.concat_ws(
                "|", *[F.col(f"mh_{b * BAND_SIZE + j}") for j in range(BAND_SIZE)]
            )
            for b in range(N_HASHES // BAND_SIZE)
        ]
    )
    return sigs.select(
        "doc_id", F.posexplode(band_structs).alias("band", "band_key")
    )


def _band_pairs(bands: DataFrame) -> DataFrame:
    """Distinct (doc_a, doc_b), doc_a < doc_b, of docs sharing a band
    bucket: the band-equality self-join."""
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _jaccard(inter: str, n_a: str, n_b: str):
    """Exact Jaccard of two distinct-shingle sets from the intersection
    size and the two set sizes, rounded to 6 places."""
    return F.round(
        F.col(inter).cast("double")
        / (F.col(n_a) + F.col(n_b) - F.col(inter)),
        6,
    )


def _jaccard_sql(a: str, b: str) -> str:
    """DuckDB twin of ``_jaccard`` over the ``shingles`` lists of table
    aliases ``a`` and ``b``, unrounded: callers round (or not) themselves."""
    inter = f"len(list_intersect({a}.shingles, {b}.shingles))"
    return (
        f"CAST({inter} AS DOUBLE)"
        f" / (len({a}.shingles) + len({b}.shingles) - {inter})"
    )


def _sql_sig_bands() -> str:
    """The ``sigs`` + ``bands`` CTEs, without the leading WITH (callers
    add WITH or WITH RECURSIVE): the SQL twin of ``minhash_signature``
    + ``_band_rows`` over the >=3-word docs."""
    bands = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {b} AS band, "
        + " || '|' || ".join(f"mh_{b * BAND_SIZE + j}" for j in range(BAND_SIZE))
        + " AS band_key FROM sigs"
        for b in range(N_HASHES // BAND_SIZE)
    )
    return f"""sigs AS (
      SELECT doc_id, {", ".join(_oracle_minhash(i) for i in range(N_HASHES))}
      FROM documents
      WHERE len(string_split({_CANON_SQL}, ' ')) >= 3
    ),
    bands AS (
      {bands}
    )"""


# the SQL twin of _band_pairs over the ``bands`` CTE
_BAND_PAIRS_SQL = """
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id"""


@query(
    "dedup_exact",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             md5(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))) AS fp
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, fp,
             ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn,
             COUNT(*)     OVER (PARTITION BY fp) AS group_size
      FROM fp
    )
    SELECT doc_id, fp, group_size, CASE WHEN rn = 1 THEN 1 ELSE 0 END AS keep
    FROM ranked
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: canonical-md5 groupBy, keep lowest doc_id per group.

    One shuffle on the digest; the window is per-digest (tiny groups).
    Deterministic keep-first (vs dropDuplicates' arbitrary pick).
    """
    t = Tables(spark, sf_dir)
    fp = t.documents.select("doc_id", F.md5(_canon(F.col("text"))).alias("fp"))
    w = Window.partitionBy("fp").orderBy("doc_id")
    return fp.select(
        "doc_id",
        "fp",
        F.count("*").over(Window.partitionBy("fp")).alias("group_size"),
        F.when(F.row_number().over(w) == 1, 1).otherwise(0).alias("keep"),
    )


@query(
    "dedup_minhash_lsh",
    oracle=f"WITH {_sql_sig_bands()}{_BAND_PAIRS_SQL}",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup candidates: shingle → 6 minhashes → 3
    bands of 2 → same-band bucket join → distinct (a<b) pairs.

    Scale: the join key is (band, band_key); only colliding docs meet.
    At 100 TB you'd also groupBy band_key and skip singleton buckets
    before the self-join — same plan shape.

    The signature pipeline (regex → shingle → md5) runs ONCE: bands come
    from a posexplode (not a union of selects, which re-derives the
    signature per branch) and the banded frame is materialized before the
    self-join so neither side recomputes it (a ``catalog.barrier``).
    """
    t = Tables(spark, sf_dir)
    return _lsh_candidates(_with_shingles(t.documents))


def _lsh_candidates(sh: DataFrame) -> DataFrame:
    """Banded-LSH candidate pairs from a (doc_id, shingles) frame —
    shared by dedup_minhash_lsh and the verified chain so callers that
    already hold a materialized shingle frame don't recompute it."""
    sigs = sh.select("doc_id", *_minhash_cols())
    # barrier: reuse — both sides of the band self-join
    return _band_pairs(barrier(_band_rows(sigs)))


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, lang, len(string_split({_CANON_SQL}, ' ')) // 50 AS len_bucket,
             {_SHINGLES_SQL} AS shingles
      FROM documents
      WHERE len(string_split({_CANON_SQL}, ' ')) >= 3
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / (len(a.shingles) + len(b.shingles)
                    - len(list_intersect(a.shingles, b.shingles))), 6) AS jaccard
    FROM sh a JOIN sh b
      ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          / (len(a.shingles) + len(b.shingles)
             - len(list_intersect(a.shingles, b.shingles))) >= 0.2
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard similarity on blocked candidate pairs.

    Blocking key = (lang, token-count bucket) — a stand-in for the LSH
    candidates at this scale; the verification math (|∩|/|∪| over
    distinct shingle sets) is what a 100 TB pipeline runs after LSH.

    Relational formulation: explode shingles and count matches per pair
    via a shingle-equality join, instead of array_intersect over every
    blocked pair — pairs sharing ZERO shingles (jaccard 0, below any
    threshold) never materialize, and the intersection count runs in
    whole-stage codegen rather than a per-pair array lambda.  Same
    result set; ~50× wall-clock at sf0.1.
    """
    _, expl = _shingle_postings(
        Tables(spark, sf_dir).documents,
        len_bucket=(F.size("words") / 50).cast("int"),
    )
    common = (
        _shingle_matches(expl, F.col("a.doc_id") < F.col("b.doc_id"), "len_bucket")
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count("*").alias("inter"))
    )
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    )
    return (
        common.where(jac >= 0.2)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# --------------------------------------------------------------- SimHash

SIMHASH_BITS = 32  # 8 hex chars of md5 → engine-portable bit extraction
SIMHASH_BANDS = 4  # 8-bit bands; near-dups collide in ≥1 band
SIMHASH_MAX_HAMMING = 3

def simhash(docs: DataFrame) -> DataFrame:
    """doc_id + 32-bit SimHash over distinct 3-gram shingles (library
    entry point).  Shingles, not single tokens: corpora share vocabulary,
    so token-level SimHash saturates; word 3-grams stay discriminative.

    Relational formulation: explode shingles, one integer hash per
    shingle (conv of the md5 hex prefix — most-significant-first, the
    same value the oracle rebuilds with per-char arithmetic), then 32
    codegen SUM aggregates for the bit votes.  The naive form (nested
    aggregate/zip_with array lambdas) runs interpreted per token and is
    ~100x slower at sf0.1."""
    tok = _with_shingles(docs).select(
        "doc_id", F.explode("shingles").alias("t")
    )
    # Expressions as SQL strings, one py4j call each: the Column-algebra
    # form of the 32 vote sums + 32 bit recombines was ~200 py4j
    # round-trips (~0.5 s of driver wall per invocation, measured) for
    # an identical plan.
    h = F.expr("CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT)")
    votes = tok.select("doc_id", h.alias("h")).groupBy("doc_id").agg(
        *[
            F.expr(f"sum(2 * ((h >> {j}) & 1) - 1) AS s{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    sim = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN CAST({1 << j} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END)"
        for j in range(SIMHASH_BITS)
    )
    return votes.select("doc_id", F.expr(sim).alias("simhash"))


_SIMHASH_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, {_SHINGLES_SQL} AS tokens FROM documents
  WHERE len(string_split({_CANON_SQL}, ' ')) >= 3
),
tok AS (
  SELECT doc_id, unnest(tokens) AS t FROM docs WHERE len(tokens) >= 1
),
hashed AS (
  SELECT doc_id, (strpos('0123456789abcdef', substr(md5(t), 1, 1)) - 1)::BIGINT * 268435456 + (strpos('0123456789abcdef', substr(md5(t), 2, 1)) - 1)::BIGINT * 16777216 + (strpos('0123456789abcdef', substr(md5(t), 3, 1)) - 1)::BIGINT * 1048576 + (strpos('0123456789abcdef', substr(md5(t), 4, 1)) - 1)::BIGINT * 65536 + (strpos('0123456789abcdef', substr(md5(t), 5, 1)) - 1)::BIGINT * 4096 + (strpos('0123456789abcdef', substr(md5(t), 6, 1)) - 1)::BIGINT * 256 + (strpos('0123456789abcdef', substr(md5(t), 7, 1)) - 1)::BIGINT * 16 + (strpos('0123456789abcdef', substr(md5(t), 8, 1)) - 1)::BIGINT * 1 AS h FROM tok
),
votes AS (
  SELECT doc_id, j, SUM(2 * ((h >> j) & 1) - 1) AS bitsum
  FROM hashed, (SELECT unnest(range(0, {SIMHASH_BITS})) AS j)
  GROUP BY 1, 2
),
sh AS (
  SELECT doc_id,
         SUM(CASE WHEN bitsum > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT
           AS simhash
  FROM votes GROUP BY doc_id
),
bands AS (
  SELECT doc_id, simhash, k, (simhash >> (8 * k)) & 255 AS band_val
  FROM sh, (SELECT unnest(range(0, {SIMHASH_BANDS})) AS k)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM bands a JOIN bands b
  ON a.k = b.k AND a.band_val = b.band_val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
ORDER BY doc_a, doc_b
"""


@query("dedup_simhash", _SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 32-bit shingle signature → 4 byte-bands →
    same-band bucket join → Hamming ≤ 3 verify.

    Scale: the signature is one narrow map-side projection (no explode
    shuffle — the token loop runs inside `aggregate`); candidate
    generation joins on (band_idx, band_val) so only docs agreeing on a
    full byte of the signature ever meet; bit_count(xor) verification is
    O(1) per candidate pair.
    """
    t = Tables(spark, sf_dir)
    sh = simhash(t.documents)
    # barrier: reuse — materialize the banded signatures before the
    # self-join; otherwise BOTH join sides recompute the full
    # shingle→md5→32-vote pipeline
    bands = barrier(
        sh.select(
            "doc_id",
            "simhash",
            F.explode(F.expr(f"sequence(0, {SIMHASH_BANDS - 1})")).alias("k"),
        )
        .withColumn(
            "band_val",
            F.expr("(simhash >> (8 * k)) & 255"),
        )
    )
    return (
        _hamming_pairs(bands, "simhash", SIMHASH_MAX_HAMMING)
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


def _hamming_pairs(bands: DataFrame, sig: str, max_hamming: int) -> DataFrame:
    """(doc_a, doc_b, hamming) of the banded signature rows
    (doc_id, ``sig``, k, band_val) that agree on some band, doc_a <
    doc_b, with at most ``max_hamming`` differing bits: the pigeonhole
    band self-join verified by bit_count of the XOR.  A pair agreeing on
    several bands repeats once per band."""
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col(f"a.{sig}").bitwiseXOR(F.col(f"b.{sig}"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


# ------------------------------------------- embedding-cosine near-dup

COS_THRESHOLD = 0.35
_SIGN_BITS = 8  # minimum bucket width: sign pattern of first 8 components
_TARGET_BUCKET = 8  # aim for ~this many vectors per bucket


def emb_sign_bits(n_vectors: int, dim: int = 64) -> int:
    """Bucket-width sizing rule: the in-bucket candidate join is
    quadratic in the bucket size (~n/2^bits), so the bit count must
    GROW with the corpus —

        bits = max(_SIGN_BITS, ceil(log2(n / _TARGET_BUCKET)))

    keeps expected bucket size ~_TARGET_BUCKET regardless of n
    (n≤8k → 8 bits, n=65k → 11 bits, n=1e9 → 25 bits, capped at dim-1
    sign components;
    past that, switch to derived random hyperplanes —
    similarity.banded_hyperplane_buckets — which supply unlimited
    planes).
    A fixed 8-bit bucket would go quadratic at billions of vectors."""
    from kachess_spark.pipeline.similarity import _ceil_log2_ratio

    # exact-integer ceil(log2(n/target)) — the oracle replays the same
    # shift search, so Spark and DuckDB can never desync on the width
    # at a 1-ulp float-log2 boundary (round-10 advice)
    need = _ceil_log2_ratio(max(1, n_vectors), _TARGET_BUCKET)
    return max(_SIGN_BITS, min(dim - 1, need))


# element_at is 1-based like the oracle's DuckDB embedding[j] (Spark's
# arr[i] is 0-based), so bit j reads the same component in both engines
def _emb_bucket_spark(bits: int) -> str:
    return " + ".join(
        f"(CASE WHEN element_at(embedding, {j + 1}) > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(bits)
    )

# The oracle derives its bucket width from COUNT(*) with the SAME rule as
# emb_sign_bits (GREATEST(8, ceil-log2 shift search) capped at 63), so the
# Spark side and the DuckDB side agree at ANY corpus size — a fixed-8-bit
# oracle would emit a superset of pairs once n > 2048 and fail the compare.
# The width search is integer-shift arithmetic (not floating LOG2) on both
# sides, mirroring emb_sign_bits exactly.
_EMB_COS_ORACLE = f"""
WITH nn AS (
  SELECT GREATEST({_SIGN_BITS}, LEAST(63, CAST((
           SELECT MIN(k) FROM generate_series(0, 62) g(k)
           WHERE CAST({_TARGET_BUCKET} AS HUGEINT)
                 * (CAST(1 AS HUGEINT) << k)
                 >= (SELECT GREATEST(COUNT(*), 1) FROM embeddings)
         ) AS INTEGER))) AS bits
),
b AS (
  SELECT vec_id, embedding,
         CAST(list_sum(list_transform(range(1, nn.bits + 1),
              j -> CASE WHEN embedding[j] > 0
                        THEN CAST(POWER(2, j - 1) AS BIGINT)
                        ELSE 0 END)) AS BIGINT) AS bucket
  FROM embeddings, nn
),
cand AS (
  SELECT a.vec_id AS va, b2.vec_id AS vb,
         a.embedding AS ea, b2.embedding AS eb
  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
),
expl AS (
  SELECT va, vb, generate_subscripts(ea, 1) AS pos,
         CAST(unnest(ea) AS DOUBLE) AS av, CAST(unnest(eb) AS DOUBLE) AS bv
  FROM cand
),
dots AS (
  SELECT va, vb,
         SUM(CAST(av * bv AS DECIMAL(28,14))) AS dot,
         SUM(CAST(av * av AS DECIMAL(28,14))) AS na,
         SUM(CAST(bv * bv AS DECIMAL(28,14))) AS nb
  FROM expl GROUP BY va, vb
)
SELECT va AS vec_a, vb AS vec_b,
       ROUND(CAST(dot AS DOUBLE)
             / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS cosine
FROM dots
WHERE CAST(dot AS DOUBLE)
      / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) >= {COS_THRESHOLD}
ORDER BY vec_a, vec_b
"""


@query("dedup_embedding_cosine", _EMB_COS_ORACLE)
def dedup_embedding_cosine(
    spark: SparkSession, sf_dir: str, sign_bits: int | None = None
) -> DataFrame:
    """Embedding-cosine near-dup pairs: sign-pattern LSH bucket →
    in-bucket candidate join → exact cosine ≥ COS_THRESHOLD.

    Scale: sign-bucketing cuts the quadratic candidate space by ~2^bits
    before any pairwise math (same-cluster vectors agree on most signs);
    the bit count is SIZED TO THE CORPUS by :func:`emb_sign_bits`
    (expected bucket ≈ _TARGET_BUCKET vectors, so in-bucket work stays
    ~n·_TARGET_BUCKET/2, linear in n) — the corpus count is one cheap
    parquet count() before planning.  The DuckDB oracle computes its
    bucket width from COUNT(*) with the SAME sizing rule, so the two
    sides agree at any corpus size (8 bits for n≤2048, growing with
    n thereafter).  The
    exact cosine runs only on candidates, with the dot/norm sums in
    DECIMAL so the verify is deterministic under any combine order.
    A production ANN path swaps the bucket for IVF/random hyperplanes
    (similarity.banded_hyperplane_buckets — needed past dim-1 sign
    components);
    the plan shape (bucket → join → verify) is identical.
    """
    from kachess_spark.pipeline.similarity import _DEC_NORM, _cos, _dec_dot

    t = Tables(spark, sf_dir)
    if sign_bits is None:
        sign_bits = emb_sign_bits(t.embeddings.count())
    # per-VECTOR norm computed once before the pair join (n folds, not
    # n·bucket/2), as an in-array DECIMAL fold — exact addition is
    # order-independent, so this matches the oracle's any-order SUM
    norm = F.expr(_DEC_NORM)
    b = (
        spread(t.embeddings, "vec_id")
        .select(
            "vec_id",
            "embedding",
            F.expr(_emb_bucket_spark(sign_bits)).alias("bucket"),
            norm.alias("nrm"),
        )
    )
    cand = (
        b.alias("a")
        .join(
            b.alias("b2"),
            (F.col("a.bucket") == F.col("b2.bucket"))
            & (F.col("a.vec_id") < F.col("b2.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("va"),
            F.col("b2.vec_id").alias("vb"),
            F.col("a.embedding").alias("ea"),
            F.col("b2.embedding").alias("eb"),
            F.col("a.nrm").alias("na"),
            F.col("b2.nrm").alias("nb"),
        )
    )
    # per-PAIR dot product as a zip_with + DECIMAL fold: stays inside
    # whole-stage codegen, no explode, no per-pair shuffle (the previous
    # posexplode → groupBy shape shuffled 64 rows per candidate pair —
    # the dominant cost at scale)
    dot = F.expr(_dec_dot("ea", "eb"))
    return (
        cand.select(
            F.col("va").alias("vec_a"),
            F.col("vb").alias("vec_b"),
            _cos(dot, F.col("na"), F.col("nb")).alias("cosine"),
        )
        .where(F.col("cosine") >= COS_THRESHOLD)
        .orderBy("vec_a", "vec_b")
    )


# ----------------------------------- graph-served embedding dedup
# Registered below (oracle composes the descent-graph SQL chain, so it
# is attached post-hoc at module bottom after similarity's import).


def dedup_embedding_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup dedup SERVED FROM the NN-descent graph — the
    production composition at corpus sizes where even bucketed
    all-pairs candidate generation is too wide: the k-NN graph (the
    asset a pipeline builds once per corpus version anyway, for
    SemDeDup-style pruning and hubness audits) already contains every
    vector's nearest neighbors, so near-dup detection is a FILTER over
    its edges — keep rule: drop any vector whose graph has a neighbor
    with cosine ≥ COS_THRESHOLD (0.35) and a LOWER vec_id (the
    dedup_embedding_cosine keep-lowest convention).

    Recall honesty: misses are exactly the graph's recall misses
    (RECALL.md frontier) — a vector whose true near-dup is absent from
    its top-KNN_K (3) descent edges survives; dedup_embedding_cosine
    stays the exhaustive-candidates reference.  The graph is READ from
    ``build_graph_serve_state`` (built once per corpus version,
    parameter-keyed), so the per-run plan is a filter + anti-join over
    a stored table — the DuckDB twin REBUILDS the chain plus this keep
    rule, so both the stored asset and the composition stay
    hash-certified end-to-end."""
    from kachess_spark.pipeline.similarity import (
        KNN_K,
        _read_state,
        build_graph_serve_state,
    )

    t = Tables(spark, sf_dir)
    state_dir = build_graph_serve_state(spark, sf_dir)
    # the stored graph is k_work-ranked; rk <= KNN_K is exactly
    # sim_knn_graph_descent's delivered edge set
    g = _read_state(spark, state_dir, "graph")[0].where(F.col("rk") <= KNN_K)
    dropped = (
        g.where(
            (F.col("cosine") >= COS_THRESHOLD)
            & (F.col("dst") < F.col("src"))
        )
        .select(F.col("src").alias("vec_id"))
        .distinct()
        .withColumn("dropped", F.lit(1))
    )
    return (
        t.embeddings.select("vec_id")
        .join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            F.when(F.col("dropped").isNull(), 1).otherwise(0).alias("keep"),
        )
        .orderBy("vec_id")
    )


_CC_CTES = f"""
    WITH RECURSIVE {_sql_sig_bands()},
    pairs AS ({_BAND_PAIRS_SQL}
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
      WHERE r.u <> e.v
    ),
    comp AS (
      SELECT s.doc_id,
             least(s.doc_id, coalesce(min(r.v), s.doc_id)) AS component_id
      FROM sigs s LEFT JOIN reach r ON r.u = s.doc_id
      GROUP BY s.doc_id
    )
"""

_CC_ORACLE = (
    _CC_CTES
    + """
    SELECT doc_id, component_id,
           count(*) OVER (PARTITION BY component_id) AS component_size,
           CASE WHEN doc_id = component_id THEN 1 ELSE 0 END AS keep
    FROM comp
    ORDER BY doc_id
"""
)


@query("dedup_connected_components", _CC_ORACLE)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: LSH candidate pairs → connected components →
    one canonical doc per component.

    A duplicate cluster of k docs surfaces as up to k·(k-1)/2 LSH pairs;
    keeping "one per pair" under-deletes.  Components give the real
    groups (operators/graph.py — hybrid union-find / distributed
    min-label propagation), with component_id = min doc_id as the
    deterministic canonical.  Docs with no candidate pair are singleton
    components (keep=1).
    """
    from kachess_spark.operators.graph import dedup_groups

    pairs, universe = _lsh_pairs_and_universe(spark, sf_dir)
    return dedup_groups(pairs, universe).orderBy("doc_id")


def _lsh_pairs_and_universe(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """MinHash-LSH candidate pairs + the ≥3-word doc universe — the
    shared front half of the component-based dedup queries."""
    t = Tables(spark, sf_dir)
    # ONE signature pass: universe and LSH bands both derive from sigs
    # (running dedup_minhash_lsh + a separate shingle pass would run the
    # regex/shingle/md5 chain twice — measured 10.3s -> ~6s at sf0.1)
    # barrier: reuse — sigs feeds the universe and the bands, and the band
    # rows feed both sides of the self-join
    sigs = barrier(minhash_signature(t.documents))
    pairs = _band_pairs(barrier(_band_rows(sigs)))
    return pairs, sigs.select("doc_id")


_INCR_ORACLE = f"""
    WITH {_sql_sig_bands()}
    SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS hist_doc
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key
    WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
    ORDER BY new_doc, hist_doc
"""


@query("dedup_incremental_lsh", _INCR_ORACLE)
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection against a PERSISTED signature
    store — the ingestion-time shape of MinHash dedup: the historical
    corpus' band index is written once (here: even doc_ids); each new
    batch (odd doc_ids) computes signatures only for ITSELF and probes
    the stored index.

    Scale story: per-batch cost is O(new docs) signature compute plus an
    index join — the 100 TB corpus is never re-shingled.  The store is
    partitioned by band so the probe join co-partitions; on a real
    deployment the index compacts periodically (sink_compaction) and
    new batches append their own bands after the probe.
    """
    import uuid

    from kachess_spark.operators.sinks import _scratch

    t = Tables(spark, sf_dir)
    # unique per call: a second call in the same session must not
    # overwrite the store an earlier call's returned (lazy) frame reads
    store = _scratch(f"lsh_band_store_{uuid.uuid4().hex[:8]}")

    # one-time historical index build
    hist = t.documents.where(F.col("doc_id") % 2 == 0)
    hist_bands = _band_rows(minhash_signature(hist))
    hist_bands.write.mode("overwrite").partitionBy("band").parquet(store)

    new_docs = t.documents.where(F.col("doc_id") % 2 == 1)
    # barrier: boundary — the probe join reads materialized band rows
    # (an A/B without this cut read slower at 4 cores)
    new_bands = barrier(_band_rows(minhash_signature(new_docs)))
    # explicit schema: an EMPTY historical corpus writes no partition
    # directories, and the probe against an empty index must return a
    # clean 0-row result, not an inference AnalysisException
    index = spark.read.schema(hist_bands.schema).parquet(store)
    return (
        new_bands.alias("a")
        .join(
            index.alias("h"),
            (F.col("a.band") == F.col("h.band"))
            & (F.col("a.band_key") == F.col("h.band_key")),
        )
        .select(
            F.col("a.doc_id").alias("new_doc"), F.col("h.doc_id").alias("hist_doc")
        )
        .distinct()
        .orderBy("new_doc", "hist_doc")
    )


# --------------------------------------------- bloom reference-corpus dedup

_BLOOM_M = 1 << 16  # filter bits (8 KiB) — ~13 bits/element at test scale
_BLOOM_K = 3  # hash functions


def bloom_bitmask(fp_df: DataFrame, m: int = _BLOOM_M, k: int = _BLOOM_K) -> list[int]:
    """Build an m-bit Bloom bitmask (as int64 words) over a digest column.

    The set-bit positions are computed DISTRIBUTED (one distinct over
    ≤ |ref|·k positions); only the finished positions — bounded by m bits,
    i.e. m/8 bytes of information — come back to the driver to be packed.
    Sizing rule: ~10 bits/element gives ~1% false positives, so an 8 KiB
    mask serves ~6.5k reference digests; a 1e9-digest blocklist needs
    ~1.2 GiB, at which point skip the driver pack and keep the positions
    AS A TABLE (the ``bits`` join path below scales to any m).
    """
    rows = (
        fp_df.select(
            F.explode(F.expr(f"sequence(0, {k - 1})")).alias("h"), "fp"
        )
        .select(F.pmod(F.xxhash64("h", "fp"), F.lit(m)).alias("bit"))
        .distinct()
        .collect()
    )
    words = [0] * (m // 64)
    for r in rows:
        words[r["bit"] // 64] |= 1 << (r["bit"] % 64)
    # pack to signed int64 for Spark's BIGINT
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


# Fingerprint = md5 of the first 5 canonical words: "leading-content"
# dedup, the membership key that catches templated/boilerplate documents
# (full-digest membership is the same plan with a different fp expr).
_BLOOM_FP_SPARK = (
    "md5(concat_ws(' ', slice(split(lower("
    "regexp_replace(text, '[^a-zA-Z0-9 ]', '')), ' '), 1, 5)))"
)
_BLOOM_FP_SQL = (
    f"md5(array_to_string((string_split({_CANON_SQL}, ' '))[1:5], ' '))"
)

_BLOOM_REF_ORACLE = f"""
    WITH fp AS (
      SELECT doc_id, {_BLOOM_FP_SQL} AS fp FROM documents
    )
    SELECT n.doc_id, n.fp
    FROM fp n
    WHERE n.doc_id % 10 >= 3
      AND n.fp IN (SELECT fp FROM fp WHERE doc_id % 10 < 3)
    ORDER BY n.doc_id
"""


@query("dedup_bloom_reference", _BLOOM_REF_ORACLE)
def dedup_bloom_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup against a REFERENCE corpus (blocklist / already-ingested
    set) via a broadcast Bloom filter: new docs whose canonical digest
    appears in the reference are flagged, without ever shuffling the new
    (big) side.

    Scale shape for 100 TB of new docs vs a bounded reference set:

    1. build the reference's Bloom bitmask once (``bloom_bitmask`` —
       distributed bit derivation, driver packs ≤ m/8 bytes);
    2. broadcast the mask (one row) and probe it map-side: k codegen'd
       shiftright/AND bit tests — ~99% of non-members are dropped at
       the scan, shuffling nothing;
    3. exact semi-join ONLY the surviving candidates against the
       reference digests — false positives die here, so the operator's
       result is exact membership (oracle-checkable), with the Bloom
       purely a bandwidth optimization.

    Here the reference corpus is docs with doc_id % 10 < 3 and the "new"
    stream is the rest, so the operator is self-contained on the
    documents table; the membership key is a leading-content fingerprint
    (md5 of the first 5 canonical words) — the boilerplate-catcher.
    """
    import math

    t = Tables(spark, sf_dir)
    fp_all = t.documents.select(
        "doc_id", F.expr(_BLOOM_FP_SPARK).alias("fp")
    )
    ref = fp_all.where(F.col("doc_id") % 10 < 3).select("fp")
    new = fp_all.where(F.col("doc_id") % 10 >= 3)

    # size the filter to the reference corpus: ~16 bits/element keeps the
    # false-positive rate (and so the verify-join volume) constant as the
    # reference grows — a fixed m degrades toward match-everything
    n_ref = ref.count()
    m = 1 << max(16, math.ceil(math.log2(max(1, 16 * n_ref))))
    mask = bloom_bitmask(ref, m=m)
    mask_df = spark.createDataFrame([(mask,)], "mask array<bigint>")

    bit_tests = [
        F.expr(
            f"(shiftright(element_at(mask, "
            f"CAST(pmod(xxhash64({h}, fp), {m}) div 64 AS INT) + 1), "
            f"CAST(pmod(xxhash64({h}, fp), {m}) % 64 AS INT)) & 1) = 1"
        )
        for h in range(_BLOOM_K)
    ]
    cond = bit_tests[0]
    for bt in bit_tests[1:]:
        cond = cond & bt
    candidates = (
        new.crossJoin(F.broadcast(mask_df)).where(cond).select("doc_id", "fp")
    )
    return (
        candidates.join(F.broadcast(ref), "fp", "left_semi")
        .select("doc_id", "fp")
        .orderBy("doc_id")
    )


# --------------------------------------------------- span-level overlap

SPAN_N = 8  # words per span — exact-substring dedup granularity


_SPAN_ORACLE = f"""
    WITH w AS (
      SELECT doc_id, string_split({_CANON_SQL}, ' ') AS ws FROM documents
    ),
    sp AS (
      SELECT doc_id, span FROM (
        SELECT doc_id, unnest(list_distinct(list_transform(
          range(1, len(ws) - {SPAN_N - 2}),
          i -> array_to_string(ws[i:i+{SPAN_N - 1}], ' ')))) AS span
        FROM w WHERE len(ws) >= {SPAN_N}
      )
    ),
    own AS (SELECT span, min(doc_id) AS first_doc FROM sp GROUP BY span)
    SELECT s.doc_id,
           count(*) AS n_spans,
           CAST(SUM(CASE WHEN o.first_doc < s.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_spans,
           ROUND(CAST(SUM(CASE WHEN o.first_doc < s.doc_id THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS dup_ratio
    FROM sp s JOIN own o ON s.span = o.span
    GROUP BY s.doc_id
    ORDER BY s.doc_id
"""


@query("dedup_span_overlap", _SPAN_ORACLE)
def dedup_span_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level (exact-substring) duplication profile: per document,
    the fraction of its distinct {SPAN_N}-word spans already present in
    an earlier (lower doc_id) document — the keep-first primitive of
    substring-granular training-data dedup, where near-identical docs
    that survive doc-level dedup still leak repeated passages.

    Scale shape: one explode to (doc, span) rows, a min-aggregation per
    span for first-occurrence attribution, and a join back — the groupBy
    and the join share the span-hash partitioning, so this is ONE
    logical shuffle over the span stream with map-side combine.  Spans
    are hashed to 64-bit fingerprints (xxhash64) BEFORE the shuffle —
    ~10× fewer shuffle bytes than ~50-char span strings; identical
    counts modulo 2^-64-scale collisions (the string-keyed oracle pins
    that at test scale).
    """
    t = Tables(spark, sf_dir)
    # the span transform is the operator's entire CPU cost, paid once
    # per self-join branch (measured 1.7 s of a 2.2 s wall in ONE task
    # at sf0.1 before the spread)
    docs = spread(t.documents, "doc_id")
    spans = (
        docs.select(
            "doc_id", F.expr(_WORDS_EXPR).alias("words")
        )
        .where(F.size("words") >= SPAN_N)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"array_distinct(transform("
                    f"sequence(1, size(words) - {SPAN_N - 1}),"
                    f" i -> xxhash64(concat_ws(' ', slice(words, i, {SPAN_N})))))"
                )
            ).alias("span"),
        )
    )
    own = spans.groupBy("span").agg(F.min("doc_id").alias("first_doc"))
    dup = F.when(F.col("first_doc") < F.col("doc_id"), 1).otherwise(0)
    return (
        spans.join(own, "span")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(dup).alias("n_dup_spans"),
            F.round(
                F.sum(dup).cast("double") / F.count("*"), 6
            ).alias("dup_ratio"),
        )
        .orderBy("doc_id")
    )

# ------------------------------------------------- shingle containment

CONTAIN_TAU = 0.5  # |S_a ∩ S_b| / |S_a| — "half of a is inside b"

_CONTAIN_ORACLE = f"""
    WITH sh AS (
      SELECT doc_id, lang, {_SHINGLES_SQL} AS shingles
      FROM documents
      WHERE len(string_split({_CANON_SQL}, ' ')) >= 3
    )
    SELECT a.doc_id AS contained, b.doc_id AS container,
           ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / len(a.shingles), 6) AS containment
    FROM sh a JOIN sh b
      ON a.lang = b.lang AND a.doc_id <> b.doc_id
    WHERE ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                / len(a.shingles), 6) >= {CONTAIN_TAU}
    ORDER BY contained, container
"""


@query("dedup_containment", _CONTAIN_ORACLE)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment C(a,b) = |S_a ∩ S_b| / |S_a|:
    flags documents substantially CONTAINED in another (quote farms,
    page-of-a-book extracts, boilerplate wrappers) that symmetric
    Jaccard misses — a short doc inside a long one has tiny Jaccard but
    containment ≈ 1, so Jaccard-only dedup keeps both copies.

    Blocking is lang-only (NOT the length bucket Jaccard uses: a
    contained doc and its container differ in length by construction,
    so length blocking would discard exactly the target pairs).

    Scale: same relational shape as dedup_ngram_jaccard — explode
    shingles, count matches per ordered pair via a shingle-equality
    join; pairs sharing zero shingles never materialize and the
    intersection count runs in whole-stage codegen.  One shuffle keyed
    on (lang, shingle), one on the pair key.  At 100 TB the lang block
    is replaced by the MinHash band index (dedup_minhash_lsh) as the
    candidate source, and shingles hash to 64-bit fingerprints before
    the shuffle (the dedup_span_overlap trick — ~60% fewer wire bytes;
    at bench scale the extra hash pass costs more than the bytes save,
    so the local plan keeps strings).
    """
    t = Tables(spark, sf_dir)
    # NOTE (round-13, negative result kept for the record): replacing
    # the lazy checkpoints below with a (lang, shingle)-partitioned
    # DISK_ONLY postings cache — the substring-family pattern — read
    # 33 s vs 1.4 s in a back-to-back A/B.  Here the self-join's b-side
    # is under the 64 MB auto-broadcast threshold, so the existing plan
    # is ONE explode + a broadcast hash join with no postings exchange
    # at all; the "fix" traded that for a full postings exchange, a
    # cache write, and a sort-merge join.  The lazy-checkpoint shape
    # stays.
    _, expl = _shingle_postings(t.documents)
    common = (
        _shingle_matches(expl, F.col("a.doc_id") != F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("contained"),
            F.col("b.doc_id").alias("container"),
            F.col("a.n_sh").alias("na"),
        )
        .agg(F.count("*").alias("inter"))
    )
    containment = F.round(F.col("inter").cast("double") / F.col("na"), 6)
    return (
        common.select("contained", "container", containment.alias("containment"))
        .where(F.col("containment") >= CONTAIN_TAU)
        .orderBy("contained", "container")
    )

# ------------------------------------------- semantic cluster dedup

SEM_TAU = COS_THRESHOLD  # in-cluster near-dup cosine threshold
SEM_TARGET_CLUSTER = 32  # expected vectors per cluster
SEM_MIN_K, SEM_MAX_K = 16, 256
# Largest corpus the capped flat assignment handles with LINEAR pair
# volume: past n = SEM_MAX_K * SEM_TARGET_CLUSTER the k cap binds,
# cluster size grows with n, and the in-cluster pair stage turns
# n²/SEM_MAX_K (measured 24.6x wall for 16x data, BASELINE.md round
# 11).  dedup_semantic_cluster auto-delegates to the two-level scaled
# assignment beyond this point (round-12 verdict #1).
SEM_EXACT_MAX_N = SEM_MAX_K * SEM_TARGET_CLUSTER


def sem_k(n_vectors: int) -> int:
    """Cluster-count sizing: k grows with the corpus so the in-cluster
    pairwise verify stays ~n·SEM_TARGET_CLUSTER/2 (linear in n), capped
    at SEM_MAX_K for the relational assignment below — past the cap the
    assignment step swaps to an IVF shortlist (similarity.sim_ivf_topk's
    coarse quantizer) and the per-cluster logic is unchanged."""
    import math

    return max(SEM_MIN_K, min(SEM_MAX_K, math.ceil(n_vectors / SEM_TARGET_CLUSTER)))


def sem_assign(embeddings: DataFrame, k: int) -> DataFrame:
    """Centroid assignment stage (library entry point, plan-asserted):
    broadcast the k lowest-id centroids, score every vector against
    them map-side (zip_with DECIMAL dot in codegen, no row explosion),
    and pick each vector's best centroid with a map-side-combinable
    min(struct) argmin — the only shuffle is n rows keyed on vec_id.

    Returns (vec_id, cluster, cent_cos, embedding, nrm)."""
    from kachess_spark.pipeline.similarity import _DEC_NORM, _cos, _dec_dot

    embeddings = spread(embeddings, "vec_id")  # before the k·n folds
    norm = F.expr(_DEC_NORM)
    emb = embeddings.select("vec_id", "embedding", norm.alias("nrm"))
    cent = F.broadcast(
        emb.orderBy("vec_id")
        .limit(k)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("cemb"),
            F.col("nrm").alias("cnrm"),
        )
    )
    dot_vc = F.expr(_dec_dot("embedding", "cemb"))
    scored = emb.crossJoin(cent).select(
        "vec_id",
        "embedding",
        "nrm",
        F.col("cid").alias("cluster"),
        _cos(dot_vc, F.col("nrm"), F.col("cnrm")).alias("cent_cos"),
    )
    return _nearest(scored, "vec_id", "cluster", "cent_cos", ["embedding", "nrm"])


def _nearest(
    scored: DataFrame, key: str, cid: str, cos: str, carry: list[str]
) -> DataFrame:
    """Per ``key``, the ``cid`` with the highest rounded cosine ``cos``,
    ties to the lower id — the nearest-centroid argmax of the SemDeDup
    assignments as ONE map-side-combinable min(struct) pass, with no
    join back to ``scored`` (which would recompute every fold a second
    time): (-cos + 0.0) ascending == cos descending, the +0.0
    normalising any -0.0 so the double compare matches the oracle's
    ORDER BY.  The ``carry`` columns ride along via first() (equal on
    every row of a ``key`` group by construction).  Returns (key, cid,
    cos, *carry)."""
    return (
        scored.groupBy(key)
        .agg(
            F.min(
                F.struct(
                    (-F.col(cos) + F.lit(0.0)).alias("negcos"),
                    F.col(cid).alias("id"),
                )
            ).alias("m"),
            *[F.first(c).alias(c) for c in carry],
        )
        .select(
            key,
            F.col("m.id").alias(cid),
            (-F.col("m.negcos") + F.lit(0.0)).alias(cos),
            *carry,
        )
    )


SEM_COARSE_PROBE = 2  # coarse groups probed per vector (scaled path)


def sem_k_unbounded(n_vectors: int) -> int:
    """Uncapped cluster count — the scaled two-level assignment has no
    n·k term, so k keeps tracking n/target and the in-cluster pair
    stage stays LINEAR at every corpus size (the capped ``sem_k`` turns
    the pair volume n²/{SEM_MAX_K} past the cap)."""
    return max(SEM_MIN_K, -(-n_vectors // SEM_TARGET_CLUSTER))


def sem_coarse_k(k_fine: int) -> int:
    """ceil(sqrt(k_fine)) by exact integer arithmetic (isqrt) — the
    oracle replays the same search with an integer scan, never a float
    sqrt that could sit 1 ulp off at a perfect square."""
    import math

    c = math.isqrt(k_fine)
    return c if c * c >= k_fine else c + 1


def sem_assign_scaled(embeddings: DataFrame, k_fine: int) -> DataFrame:
    """Two-level centroid assignment — the scale path the capped
    broadcast-argmin (``sem_assign``) can't reach: ``k_fine`` fine
    centroids (lowest ids, uncapped) are grouped under
    ceil(sqrt(k_fine)) coarse centroids; every vector scores ONLY the
    coarse set in one codegen projection (array of structs off a 1-row
    broadcast — no row explosion, no shuffle), probes its top
    {SEM_COARSE_PROBE} coarse groups, and argmins over those groups'
    fine centroids.  Dot work per vector falls from k to
    ~(1 + {SEM_COARSE_PROBE})·sqrt(k); the output contract matches
    sem_assign (vec_id, cluster, cent_cos, embedding, nrm) so the
    dominance/keep tail is shared.  Fully deterministic (lowest-id
    centroids, rounded-cosine orderings, id tie-breaks) — the DuckDB
    twin replays the chain exactly.

    Approximation note (same honesty as IVF serving): a vector whose
    true nearest fine centroid lives outside its {SEM_COARSE_PROBE}
    probed groups is assigned to the best IN-PROBE centroid — cluster
    quality degrades gracefully, dedup semantics (pairs within a
    cluster) stay exact."""
    from kachess_spark.pipeline.similarity import _DEC_NORM, _cos, _dec_dot

    embeddings = spread(embeddings, "vec_id")
    norm = F.expr(_DEC_NORM)
    emb = embeddings.select("vec_id", "embedding", norm.alias("nrm"))
    k_coarse = sem_coarse_k(k_fine)
    fine = (
        emb.orderBy("vec_id")
        .limit(k_fine)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("cemb"),
            F.col("nrm").alias("cnrm"),
        )
    )
    coarse = (
        emb.orderBy("vec_id")
        .limit(k_coarse)
        .select(
            F.col("vec_id").alias("gid"),
            F.col("embedding").alias("gemb"),
            F.col("nrm").alias("gnrm"),
        )
    )
    # fine -> coarse groups: broadcast argmin, the sem_assign idiom
    dot_fc = F.expr(_dec_dot("cemb", "gemb"))
    fine_groups = _nearest(
        fine.crossJoin(F.broadcast(coarse)).select(
            "cid",
            "cemb",
            "cnrm",
            "gid",
            _cos(dot_fc, F.col("cnrm"), F.col("gnrm")).alias("gcos"),
        ),
        "cid",
        "gid",
        "gcos",
        ["cemb", "cnrm"],
    ).select("cid", "gid", "cemb", "cnrm")
    # vector -> top-SEM_COARSE_PROBE coarse groups: ALL coarse scores in
    # one per-row codegen projection (1-row broadcast array of structs),
    # ranked by an array_sort comparator — no row explosion, no window
    coarse_arr = coarse.agg(
        F.collect_list(
            F.struct(
                F.col("gid"), F.col("gemb"), F.col("gnrm")
            )
        ).alias("garr")
    )
    scores = (
        f"transform(garr, g -> struct("
        f" round(CAST({_dec_dot('embedding', 'g.gemb')}"
        f" AS DOUBLE) / sqrt(CAST(nrm AS DOUBLE) * CAST(g.gnrm AS DOUBLE)),"
        f" 6) AS gcos, g.gid AS gid))"
    )
    ranked = (
        f"slice(array_sort({scores}, (l, r) -> CASE"
        f" WHEN l.gcos > r.gcos THEN -1 WHEN l.gcos < r.gcos THEN 1"
        f" WHEN l.gid < r.gid THEN -1 WHEN l.gid > r.gid THEN 1"
        f" ELSE 0 END), 1, {SEM_COARSE_PROBE})"
    )
    probes = (
        emb.crossJoin(F.broadcast(coarse_arr))
        .select(
            "vec_id",
            "embedding",
            "nrm",
            F.explode(F.expr(f"transform({ranked}, p -> p.gid)")).alias(
                "gid"
            ),
        )
    )
    # candidates: the probed groups' fine centroids; exact argmin within
    dot_vc = F.expr(_dec_dot("embedding", "cemb"))
    scored = probes.join(F.broadcast(fine_groups), "gid").select(
        "vec_id",
        "embedding",
        "nrm",
        F.col("cid").alias("cluster"),
        _cos(dot_vc, F.col("nrm"), F.col("cnrm")).alias("cent_cos"),
    )
    return _nearest(scored, "vec_id", "cluster", "cent_cos", ["embedding", "nrm"])


_SEM_ORACLE = f"""
WITH nn AS (
  SELECT GREATEST({SEM_MIN_K}, LEAST({SEM_MAX_K},
         CAST(CEIL(COUNT(*) / {SEM_TARGET_CLUSTER}.0) AS INTEGER))) AS k
  FROM embeddings
),
cent AS (
  SELECT e.vec_id AS cid, e.embedding AS cemb
  FROM (SELECT vec_id, embedding,
               ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
        FROM embeddings) e, nn
  WHERE e.rn <= nn.k
),
vexpl AS (
  SELECT v.vec_id, c.cid, generate_subscripts(v.embedding, 1) AS pos,
         CAST(unnest(v.embedding) AS DOUBLE) AS xv,
         CAST(unnest(c.cemb) AS DOUBLE) AS cv
  FROM embeddings v CROSS JOIN cent c
),
vdots AS (
  SELECT vec_id, cid,
         SUM(CAST(xv * cv AS DECIMAL(28,14))) AS dot,
         SUM(CAST(xv * xv AS DECIMAL(28,14))) AS nx,
         SUM(CAST(cv * cv AS DECIMAL(28,14))) AS nc
  FROM vexpl GROUP BY vec_id, cid
),
cc AS (
  SELECT vec_id, cid,
         ROUND(CAST(dot AS DOUBLE)
               / sqrt(CAST(nx AS DOUBLE) * CAST(nc AS DOUBLE)), 6) AS cent_cos
  FROM vdots
),
assign AS (
  SELECT vec_id, cid AS cluster, cent_cos
  FROM (SELECT vec_id, cid, cent_cos,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cent_cos DESC, cid) AS rn
        FROM cc) r
  WHERE rn = 1
),
{{tail}}"""

# shared dominance/keep tail over an `assign` CTE — _sem_keep_tail in SQL
_SEM_TAIL_SQL = f"""pexpl AS (
  SELECT a.vec_id AS xa, b.vec_id AS xb,
         a.cent_cos AS ca, b.cent_cos AS cb,
         CAST(unnest(ea.embedding) AS DOUBLE) AS xv,
         CAST(unnest(eb.embedding) AS DOUBLE) AS yv
  FROM assign a
  JOIN assign b ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
),
pdots AS (
  SELECT xa, xb, ca, cb,
         SUM(CAST(xv * yv AS DECIMAL(28,14))) AS dot,
         SUM(CAST(xv * xv AS DECIMAL(28,14))) AS na,
         SUM(CAST(yv * yv AS DECIMAL(28,14))) AS nb
  FROM pexpl GROUP BY xa, xb, ca, cb
),
dom AS (
  SELECT DISTINCT xa AS vec_id
  FROM pdots
  WHERE ROUND(CAST(dot AS DOUBLE)
              / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) >= {SEM_TAU}
    AND (cb < ca OR (cb = ca AND xb < xa))
)
SELECT s.vec_id, s.cluster, s.cent_cos,
       CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS keep
FROM assign s LEFT JOIN dom d ON s.vec_id = d.vec_id
ORDER BY s.vec_id
"""

_SEM_ORACLE = _SEM_ORACLE.format(tail=_SEM_TAIL_SQL)

# Scaled two-level oracle: fine centroids (uncapped k), coarse groups
# (exact-integer ceil(sqrt(k))), fine->coarse argmin, per-vector top
# SEM_COARSE_PROBE coarse probe, exact argmin over in-probe fine
# centroids — sem_assign_scaled replayed CTE for CTE, then the shared
# dominance tail.
_SEM_SCALED_ORACLE = f"""
WITH nn AS (
  SELECT GREATEST({SEM_MIN_K},
         CAST(CEIL(COUNT(*) / {SEM_TARGET_CLUSTER}.0) AS INTEGER)) AS kf
  FROM embeddings
),
cn AS (
  SELECT (SELECT MIN(c) FROM generate_series(1, 65536) g(c)
          WHERE CAST(c AS HUGEINT) * c >= (SELECT kf FROM nn)) AS kc
),
ranked_e AS (
  SELECT vec_id, embedding,
         ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
  FROM embeddings
),
fine AS (
  SELECT vec_id AS cid, embedding AS cemb FROM ranked_e
  WHERE rn <= (SELECT kf FROM nn)
),
coarse AS (
  SELECT vec_id AS gid, embedding AS gemb FROM ranked_e
  WHERE rn <= (SELECT kc FROM cn)
),
fgexpl AS (
  SELECT f.cid, g.gid,
         CAST(unnest(f.cemb) AS DOUBLE) AS fv,
         CAST(unnest(g.gemb) AS DOUBLE) AS gv
  FROM fine f CROSS JOIN coarse g
),
fgdots AS (
  SELECT cid, gid,
         SUM(CAST(fv * gv AS DECIMAL(28,14))) AS dot,
         SUM(CAST(fv * fv AS DECIMAL(28,14))) AS nf,
         SUM(CAST(gv * gv AS DECIMAL(28,14))) AS ng
  FROM fgexpl GROUP BY cid, gid
),
fine_groups AS (
  SELECT cid, gid FROM (
    SELECT cid, gid,
           ROW_NUMBER() OVER (PARTITION BY cid ORDER BY
             ROUND(CAST(dot AS DOUBLE)
                   / sqrt(CAST(nf AS DOUBLE) * CAST(ng AS DOUBLE)), 6)
             DESC, gid) AS rn
    FROM fgdots) r
  WHERE rn = 1
),
vgexpl AS (
  SELECT v.vec_id, g.gid,
         CAST(unnest(v.embedding) AS DOUBLE) AS xv,
         CAST(unnest(g.gemb) AS DOUBLE) AS gv
  FROM embeddings v CROSS JOIN coarse g
),
vgdots AS (
  SELECT vec_id, gid,
         SUM(CAST(xv * gv AS DECIMAL(28,14))) AS dot,
         SUM(CAST(xv * xv AS DECIMAL(28,14))) AS nx,
         SUM(CAST(gv * gv AS DECIMAL(28,14))) AS ng
  FROM vgexpl GROUP BY vec_id, gid
),
probes AS (
  SELECT vec_id, gid FROM (
    SELECT vec_id, gid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY
             ROUND(CAST(dot AS DOUBLE)
                   / sqrt(CAST(nx AS DOUBLE) * CAST(ng AS DOUBLE)), 6)
             DESC, gid) AS rn
    FROM vgdots) r
  WHERE rn <= {SEM_COARSE_PROBE}
),
candexpl AS (
  SELECT p.vec_id, fg.cid,
         CAST(unnest(v.embedding) AS DOUBLE) AS xv,
         CAST(unnest(f.cemb) AS DOUBLE) AS cv
  FROM probes p
  JOIN fine_groups fg ON fg.gid = p.gid
  JOIN fine f ON f.cid = fg.cid
  JOIN embeddings v ON v.vec_id = p.vec_id
),
canddots AS (
  SELECT vec_id, cid,
         SUM(CAST(xv * cv AS DECIMAL(28,14))) AS dot,
         SUM(CAST(xv * xv AS DECIMAL(28,14))) AS nx,
         SUM(CAST(cv * cv AS DECIMAL(28,14))) AS nc
  FROM candexpl GROUP BY vec_id, cid
),
assign AS (
  SELECT vec_id, cid AS cluster, cent_cos FROM (
    SELECT vec_id, cid,
           ROUND(CAST(dot AS DOUBLE)
                 / sqrt(CAST(nx AS DOUBLE) * CAST(nc AS DOUBLE)), 6)
             AS cent_cos,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY
             ROUND(CAST(dot AS DOUBLE)
                   / sqrt(CAST(nx AS DOUBLE) * CAST(nc AS DOUBLE)), 6)
             DESC, cid) AS rn
    FROM canddots) r
  WHERE rn = 1
),
{_SEM_TAIL_SQL}"""


# The registered SemDeDup oracle mirrors the Spark-side auto-delegation
# (below): at or under SEM_EXACT_MAX_N vectors the exact flat-assignment
# chain runs; past it the two-level scaled chain does.  Both branches
# are full chains gated by a COUNT(*) predicate, so the driver hash
# certifies WHICHEVER branch the corpus size selects — the branch rule
# itself is part of the certified surface.
_SEM_AUTO_ORACLE = f"""
SELECT vec_id, cluster, cent_cos, keep FROM (
{_SEM_ORACLE}
) semx WHERE (SELECT COUNT(*) FROM embeddings) <= {SEM_EXACT_MAX_N}
UNION ALL
SELECT vec_id, cluster, cent_cos, keep FROM (
{_SEM_SCALED_ORACLE}
) semsc WHERE (SELECT COUNT(*) FROM embeddings) > {SEM_EXACT_MAX_N}
ORDER BY vec_id
"""


@query("dedup_semantic_cluster", _SEM_AUTO_ORACLE)
def dedup_semantic_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings, then inside each cluster
    drop every vector that has a near-duplicate (cosine ≥ SEM_TAU)
    of LOWER keep-priority, where priority prefers the vector LEAST
    similar to its centroid — the paper's diversity-keeping exemplar
    rule (keep the outlier, drop the redundant core copies).

    Determinism (the property an oracle needs): centroids are the k
    lowest vec_ids rather than random init, assignment breaks
    cosine ties by centroid id, and every dot/norm sum is a DECIMAL
    fold, so both engines agree bit-for-bit.  k is sized from the
    corpus count by :func:`sem_k` (same rule inlined in the oracle's
    COUNT(*) CTE), keeping expected cluster size ~SEM_TARGET_CLUSTER.

    Scale plan: centroids are k≤256 rows → broadcast; the assignment
    cross join expands map-side only (the groupBy argmin combines
    partially before its n-row shuffle — shuffle is n rows, not n·k).
    The in-cluster pair join shuffles on the cluster id; per-cluster
    work is quadratic in cluster size, which sem_k holds ~constant —
    UNTIL the SEM_MAX_K cap would bind (n > {SEM_EXACT_MAX_N}): past
    that, a capped k makes cluster size grow with n and pair volume
    n²/{SEM_MAX_K} (measured 24.6x wall for 16x data, BASELINE.md
    round 11), so this entry point AUTO-DELEGATES to the two-level
    scaled assignment (``sem_assign_scaled`` — uncapped k, linear
    pair volume, identical keep/drop semantics per cluster; certified
    standalone as ``dedup_semantic_cluster_scaled``).  The DuckDB
    oracle replays the same n-gated branch, so the delegation rule is
    hash-certified, not just documented.
    """
    t = Tables(spark, sf_dir)
    n = t.embeddings.count()
    if n > SEM_EXACT_MAX_N:
        assigned = sem_assign_scaled(t.embeddings, sem_k_unbounded(n))
    else:
        assigned = sem_assign(t.embeddings, sem_k(n))
    # barrier: reuse — the in-cluster self-join and the keep join read it
    return _sem_keep_tail(barrier(assigned))


def _sem_keep_tail(assigned: DataFrame) -> DataFrame:
    """Shared SemDeDup dominance/keep tail over an assignment frame
    (vec_id, cluster, cent_cos, embedding, nrm): in-cluster pairs,
    exact DECIMAL cosine, drop every vector with a ≥ SEM_TAU neighbor
    of lower keep-priority (centroid-outlier rule, id tie-break)."""
    from kachess_spark.pipeline.similarity import _cos, _dec_dot

    a, b = assigned.alias("a"), assigned.alias("b")
    dot_pair = F.expr(_dec_dot("a.embedding", "b.embedding"))
    pair_cos = _cos(F.col("dp"), F.col("a.nrm"), F.col("b.nrm"))
    dominated = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.vec_id") != F.col("b.vec_id"))
            & (
                (F.col("b.cent_cos") < F.col("a.cent_cos"))
                | (
                    (F.col("b.cent_cos") == F.col("a.cent_cos"))
                    & (F.col("b.vec_id") < F.col("a.vec_id"))
                )
            ),
        )
        .withColumn("dp", dot_pair)
        .where(pair_cos >= SEM_TAU)
        .select(F.col("a.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("dropped", F.lit(1))
    )
    return (
        assigned.join(dominated, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            "cent_cos",
            F.when(F.col("dropped").isNull(), 1).otherwise(0).alias("keep"),
        )
        .orderBy("vec_id")
    )


@query("dedup_semantic_cluster_scaled", _SEM_SCALED_ORACLE)
def dedup_semantic_cluster_scaled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SemDeDup at the scale the capped exact path can't reach: the
    two-level assignment (``sem_assign_scaled``) keeps the cluster
    count tracking n/{SEM_TARGET_CLUSTER} with NO cap, so the
    in-cluster pair stage stays LINEAR in n at every corpus size —
    the exact path's k={SEM_MAX_K} cap turns pair volume into
    n²/{SEM_MAX_K} past ~8k vectors (measured: 24.6x wall for 16x
    data at the 16x fixture; this variant is the documented switch
    the exact path's docstring promises).  Assignment dot work is
    ~(1 + {SEM_COARSE_PROBE})·sqrt(k) per vector instead of k.

    Same keep/drop semantics and output schema as
    dedup_semantic_cluster; clusters differ (coarse-probe
    approximation, like any IVF serving path) and the DuckDB twin
    replays the full two-level chain CTE for CTE, so the driver hash
    certifies it end-to-end at fixture scale where the two-level
    machinery (16 fine centroids, 4 coarse groups, 2 probes) is fully
    exercised."""
    t = Tables(spark, sf_dir)
    k_fine = sem_k_unbounded(t.embeddings.count())
    # barrier: reuse — the in-cluster self-join and the keep join read it
    assigned = barrier(sem_assign_scaled(t.embeddings, k_fine))
    return _sem_keep_tail(assigned)


# ------------------------------------- minhash → LSH → verified dedup

MINHASH_VERIFY_TAU = 0.5

_MHV_CTES = f"""
    WITH {_sql_sig_bands()},
    cand AS ({_BAND_PAIRS_SQL}
    ),
    sh AS (
      SELECT doc_id, {_SHINGLES_SQL} AS shingles
      FROM documents
      WHERE len(string_split({_CANON_SQL}, ' ')) >= 3
    ),
    verified AS (
      SELECT c.doc_a, c.doc_b, ROUND({_jaccard_sql("a", "b")}, 6) AS jaccard,
             c.doc_b AS drop_doc
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b
      WHERE ROUND({_jaccard_sql("a", "b")}, 6) >= {MINHASH_VERIFY_TAU}
    )
"""

_MINHASH_VERIFIED_ORACLE = (
    _MHV_CTES
    + """
    SELECT doc_a, doc_b, jaccard, drop_doc
    FROM verified
    ORDER BY doc_a, doc_b
"""
)


@query("dedup_minhash_verified", _MINHASH_VERIFIED_ORACLE)
def dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical fuzzy-dedup chain in one operator: MinHash
    signatures → banded LSH candidates → EXACT Jaccard verification on
    the candidate set only → (pair, jaccard, drop verdict).  This is
    the recall/precision split production dedup runs: LSH makes the
    pair space subquadratic, the verify makes the kept pairs exact —
    candidates that band-collide but verify below τ are dropped, so
    LSH false positives never reach the delete list.

    Scale: candidates come from the band bucket join (dedup_minhash_lsh,
    reused); verification is ``size(array_intersect(...))`` on the two
    shingle arrays carried through the candidate joins — pure codegen,
    no shingle explode and no equality-join shuffle (the shingle sets
    are array_distinct, so the intersect size IS the exact match
    count).  A semi-join first restricts the arrays shipped to docs
    that actually appear in a candidate pair, so bytes moved are
    O(candidates · avg shingle bytes), never all-pairs; the drop
    verdict (higher doc_id) is what an anti-join consumes downstream.
    """
    t = Tables(spark, sf_dir)
    # ONE shingle materialization feeds both the LSH candidate pass and
    # the exact verify (_with_shingles ends in a barrier)
    sh = _with_shingles(t.documents)
    # barrier: reuse — the doc filter and the verify join both read cand
    cand = barrier(_lsh_candidates(sh))
    docs_in_cand = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionAll(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sha = sh.join(docs_in_cand, "doc_id", "left_semi").select(
        "doc_id", "shingles", F.size("shingles").alias("n_sh")
    )
    inter = (
        cand.join(
            sha.select(
                F.col("doc_id").alias("doc_a"),
                F.col("shingles").alias("sh_a"),
                F.col("n_sh").alias("na"),
            ),
            "doc_a",
        )
        .join(
            sha.select(
                F.col("doc_id").alias("doc_b"),
                F.col("shingles").alias("sh_b"),
                F.col("n_sh").alias("nb"),
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "na",
            "nb",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("inter"),
        )
    )
    return (
        inter.select(
            "doc_a",
            "doc_b",
            _jaccard("inter", "na", "nb").alias("jaccard"),
            F.col("doc_b").alias("drop_doc"),
        )
        .where(F.col("jaccard") >= MINHASH_VERIFY_TAU)
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------- LSH candidate evaluation

_LSH_EVAL_ORACLE = f"""
    WITH sh AS (
      SELECT doc_id, lang, len(string_split({_CANON_SQL}, ' ')) // 50
               AS len_bucket,
             {_SHINGLES_SQL} AS shingles
      FROM documents
      WHERE len(string_split({_CANON_SQL}, ' ')) >= 3
    ),
    truth AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN sh b
        ON a.lang = b.lang AND a.len_bucket = b.len_bucket
       AND a.doc_id < b.doc_id
      WHERE {_jaccard_sql("a", "b")} >= {MINHASH_VERIFY_TAU}
    ),
    {_sql_sig_bands()},
    cand AS ({_BAND_PAIRS_SQL}
    ),
    hit AS (
      SELECT t.doc_a FROM truth t JOIN cand c
        ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    )
    SELECT (SELECT COUNT(*) FROM truth)::BIGINT AS n_truth,
           (SELECT COUNT(*) FROM cand)::BIGINT AS n_candidates,
           (SELECT COUNT(*) FROM hit)::BIGINT AS n_hit,
           ROUND(CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
                 / GREATEST((SELECT COUNT(*) FROM truth), 1), 6) AS recall,
           ROUND(CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
                 / GREATEST((SELECT COUNT(*) FROM cand), 1), 6) AS precision
"""


@query("dedup_lsh_eval", _LSH_EVAL_ORACLE)
def dedup_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine evaluation of the MinHash-LSH candidate generator
    against exact ground truth: truth = blocked exact-Jaccard pairs at
    τ={MINHASH_VERIFY_TAU}, candidates = the band join, and the report
    is (n_truth, n_candidates, n_hit, recall, precision) — the
    dedup-quality scorecard a pipeline publishes when tuning band/row
    parameters, computed distributed rather than by sampling to a
    notebook.

    Scale: both pair sets come from the proven subquadratic shapes
    (shingle-equality blocking for truth — at 100 TB the truth side is
    itself sampled, the plan is unchanged — and the band bucket join
    for candidates); the hit count is one more equality join on the
    pair key.
    """
    # barrier: reuse — truth and cand each feed the hit join and a count
    truth = barrier(
        dedup_ngram_jaccard(spark, sf_dir)
        .where(F.col("jaccard") >= MINHASH_VERIFY_TAU)
        .select("doc_a", "doc_b")
    )
    cand = barrier(dedup_minhash_lsh(spark, sf_dir))
    hit = truth.join(cand, ["doc_a", "doc_b"], "left_semi")
    n_truth = truth.count()
    n_cand = cand.count()
    n_hit = hit.count()
    return spark.createDataFrame(
        [
            (
                n_truth,
                n_cand,
                n_hit,
                round(n_hit / max(n_truth, 1), 6),
                round(n_hit / max(n_cand, 1), 6),
            )
        ],
        "n_truth bigint, n_candidates bigint, n_hit bigint,"
        " recall double, precision double",
    )


@query("dedup_containment_prefix", _CONTAIN_ORACLE)
def dedup_containment_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_containment's output via PREFIX FILTERING (the
    PPJoin-family exact similarity-join technique) — the shape that
    survives web-scale corpora where the plain shingle-equality join's
    candidate set explodes on stop-shingles.

    Pigeonhole guarantee: containment ≥ τ needs |Sa∩Sb| ≥ ⌈τ|Sa|⌉
    shared shingles, so ordering Sa canonically and probing only its
    first |Sa|−⌈τ|Sa|⌉+1 shingles (the PREFIX) cannot miss a
    qualifying pair — a pair sharing no prefix shingle has at most
    ⌈τ|Sa|⌉−1 shared.  Ordering by ascending document frequency makes
    prefixes maximally rare, so the candidate join only meets on
    discriminative shingles; frequent boilerplate shingles never
    generate candidates from the contained side.  Exact verification
    (size(array_intersect)/|Sa|, codegen) then removes false positives
    — output is IDENTICAL to dedup_containment (same oracle).

    Scale: the df table is a groupBy (map-side combined); the prefix
    cut drops ~half of each doc's probe rows at τ=0.5 and, ordered by
    rarity, the surviving keys have near-unique fan-out — candidate
    pairs grow ~linearly in corpus size where the unfiltered join grows
    with the square of per-shingle frequency.
    """
    t = Tables(spark, sf_dir)
    sh, expl = _shingle_postings(t.documents)
    dfreq = expl.groupBy("shingle").agg(F.count("*").alias("freq"))
    w = Window.partitionBy("doc_id").orderBy("freq", "shingle")
    prefix_len = F.floor(F.col("n_sh") / 2) + 1  # |Sa|-ceil(τ|Sa|)+1, τ=.5
    pref = (
        expl.join(dfreq, "shingle")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= prefix_len)
        .select("doc_id", "lang", "shingle")
    )
    cand = (
        pref.alias("a")
        .join(
            expl.alias("b"),
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("contained"),
            F.col("b.doc_id").alias("container"),
        )
        .distinct()
    )
    sha = sh.select(
        F.col("doc_id").alias("contained"),
        F.col("shingles").alias("sh_a"),
        F.size("shingles").alias("na"),
    )
    shb = sh.select(
        F.col("doc_id").alias("container"), F.col("shingles").alias("sh_b")
    )
    containment = F.round(
        F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        / F.col("na"),
        6,
    )
    return (
        cand.join(sha, "contained")
        .join(shb, "container")
        .select("contained", "container", containment.alias("containment"))
        .where(F.col("containment") >= CONTAIN_TAU)
        .orderBy("contained", "container")
    )


# ------------------------------------- longest shared substring run

SUBRUN_MIN = 8  # min shared run, in 3-gram shingles (≈ 10 words)
SUBRUN_DF_CAP = 50  # shingles in more docs than this are stop-shingles

def _diagonal_matches(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Cross-document positional shingle matches (da < db): the shared
    candidate stream of the substring-run family.  Positional 3-gram
    postings are fingerprinted to 64 bits BEFORE the exchange, df-capped
    (``SUBRUN_DF_CAP``) to drop stop-shingles, and self-joined on the
    fingerprint — the df-count groupBy, the keep semi-join, and the
    self-join all reuse one hash partitioning on ``fp``.

    Returns ``(matches, posts)``: ``posts`` is no longer cached
    (round-14 — ReuseExchange dedups the one postings exchange across
    all three consumers), so the caller-side ``posts.unpersist()``
    lifecycle is a no-op kept for API stability."""
    t = Tables(spark, sf_dir)
    posts = (
        t.documents.select("doc_id", F.expr(_WORDS_EXPR).alias("words"))
        .where(F.size("words") >= 3)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform(sequence(0, size(words) - 3), i ->"
                    " xxhash64(concat_ws(' ', words[i], words[i+1],"
                    " words[i+2])))"
                )
            ).alias("pos", "fp"),
        )
        # corpus-proportional width (round-11 verdict #6): the
        # positional-postings explode writes ~12x the compressed
        # document bytes (measured sf0.1: 260k positions ≈ 7.3 MB vs
        # 0.59 MB parquet) — a defaultParallelism pin kept 32 slots at
        # every corpus size, the tf-idf postings trap all over again;
        # 16x expansion leaves margin for wider shingles
        .repartition(scaled_partitions(spark, sf_dir, "documents", 16), "fp")
        # NO persist and NO localCheckpoint (round-14; supersedes the
        # round-13 DISK_ONLY cache + count-fill): the three consumers
        # (df-count groupBy, keep semi-join, self-join sides) reference
        # an IDENTICAL exchange subtree, so ReuseExchange dedups it at
        # physical planning — the explode runs ONCE and every consumer
        # re-reads the one set of shuffle blocks, keeping
        # hashpartitioning(fp) exactly like the cached scan did.  The
        # round-13 cache additionally paid a dedicated count() job to
        # fill it (a full postings pass) — with exchange reuse that job
        # buys nothing, and dropping cache+fill recovered the
        # dedup_cut_spans regression (driver r13: 1.3 -> 3.2 s; the
        # round-13 problem was the eager localCheckpoint's
        # UnknownPartitioning scan, which reuse does not have).
    )
    keep = (
        posts.groupBy("fp")
        .agg(F.count_distinct("doc_id").alias("c"))
        .where((F.col("c") >= 2) & (F.col("c") <= SUBRUN_DF_CAP))
        .select("fp")
    )
    matched = posts.join(keep, "fp")
    a = matched.select(
        "fp", F.col("doc_id").alias("da"), F.col("pos").alias("pa")
    )
    b = matched.select(
        "fp", F.col("doc_id").alias("db"), F.col("pos").alias("pb")
    )
    return (
        a.join(b, "fp")
        .where(F.col("da") < F.col("db"))
        .select("da", "db", "pa", "pb")
    ), posts


def _sql_shingle_matches(pos: str) -> str:
    """The DuckDB twin of :func:`_diagonal_matches` as the CTEs ``w``
    (canonical words), ``p`` (positional 3-gram shingles, position
    ``pos`` of the 1-based unnest index ``t.i``), ``keep`` (the
    df-capped shingles) and ``m`` (cross-doc matches, da < db), each
    followed by a comma for the caller's next CTE."""
    return f"""
    WITH w AS (
      SELECT doc_id, string_split({_CANON_SQL}, ' ') AS words
      FROM documents
    ),
    p AS (
      SELECT doc_id, {pos} AS pos,
             words[t.i] || ' ' || words[t.i+1] || ' ' || words[t.i+2] AS sh
      FROM w, LATERAL (SELECT unnest(range(1, len(words) - 1)) AS i) t
      WHERE len(words) >= 3
    ),
    keep AS (
      SELECT sh FROM (
        SELECT sh, count(DISTINCT doc_id) AS c FROM p GROUP BY sh
      ) WHERE c BETWEEN 2 AND {SUBRUN_DF_CAP}
    ),
    m AS (
      SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb
      FROM p a JOIN p b USING (sh) JOIN keep USING (sh)
      WHERE a.doc_id < b.doc_id
    ),
"""


_SUBRUN_ORACLE = _sql_shingle_matches("t.i") + f"""\
    r AS (
      SELECT da, db, pa,
             pa - ROW_NUMBER() OVER (PARTITION BY da, db, pa - pb
                                     ORDER BY pa) AS grp,
             pa - pb AS delta
      FROM m
    ),
    runs AS (
      SELECT da, db, count(*) AS run_len
      FROM r GROUP BY da, db, delta, grp
    )
    SELECT da AS doc_a, db AS doc_b,
           CAST(MAX(run_len) AS BIGINT) AS max_run
    FROM runs GROUP BY da, db
    HAVING MAX(run_len) >= {SUBRUN_MIN}
    ORDER BY doc_a, doc_b
"""


@query("dedup_substring_run", _SUBRUN_ORACLE)
def dedup_substring_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest shared contiguous substring run per document pair — the
    diagonal-run primitive of exact-substring training-data dedup (the
    suffix-array family's output, computed relationally): positional
    3-gram shingles matched across docs form diagonals (constant
    pa−pb); consecutive positions on a diagonal are a verbatim shared
    passage, and pairs whose longest run ≥ {SUBRUN_MIN} shingles
    (≈ {SUBRUN_MIN + 2} words) are substring-duplicates that doc-level
    MinHash can miss entirely (a long quote inside an otherwise-unique
    doc).

    Scale shape: positional postings are hashed to 64-bit xxhash64
    fingerprints BEFORE the shuffle (string-keyed oracle pins collisions
    at test scale, as in dedup_span_overlap); the document-frequency cap
    ({SUBRUN_DF_CAP}) drops stop-shingles so no fingerprint fans out
    more than C(cap,2) pairs — the self-join is bounded per key, never
    quadratic in corpus size.  Postings are exchanged ONCE on the
    fingerprint (the df-count groupBy, the keep semi-join, and the
    self-join all reuse that partitioning); the diagonal run-length pass
    is a window + groupBy on the matched-pair stream, which the df cap
    keeps proportional to true duplication, not corpus².
    """
    mm, posts = _diagonal_matches(spark, sf_dir)
    m = mm.select(
        "da", "db", "pa", (F.col("pa") - F.col("pb")).alias("delta")
    )
    w = Window.partitionBy("da", "db", "delta").orderBy("pa")
    runs = (
        m.withColumn("grp", F.col("pa") - F.row_number().over(w))
        .groupBy("da", "db", "delta", "grp")
        .agg(F.count("*").alias("run_len"))
    )
    try:
        # barrier: boundary — pair-level output (tiny at any corpus size
        # relative to the postings): materialize on the executors, then
        # release the postings cache — no InMemoryRelation outlives the call
        out = barrier(
            runs.groupBy(
                F.col("da").alias("doc_a"), F.col("db").alias("doc_b")
            )
            .agg(F.max("run_len").alias("max_run"))
            .where(F.col("max_run") >= SUBRUN_MIN),
            eager=True,
        )
    finally:
        posts.unpersist()
    return out.orderBy("doc_a", "doc_b")


# positions are 0-based here: the spans are word offsets into the
# cleaned corpus
_SQL_SPAN_RUNS = _sql_shingle_matches("t.i - 1") + f"""\
    r AS (
      SELECT da, db, pb, pa - pb AS delta,
             pb - ROW_NUMBER() OVER (PARTITION BY da, db, pa - pb
                                     ORDER BY pb) AS grp
      FROM m
    ),
    runs AS (
      SELECT db AS doc_id, MIN(pb) AS s, MIN(pb) + count(*) + 1 AS e
      FROM r GROUP BY da, db, delta, grp
      HAVING count(*) >= {SUBRUN_MIN}
    ),
"""
_SUBSPAN_ORACLE = _SQL_SPAN_RUNS + f"""\
    ivl AS (SELECT DISTINCT doc_id, s, e FROM runs),
    flag AS (
      SELECT doc_id, s, e,
             CASE WHEN s > coalesce(MAX(e) OVER (
                 PARTITION BY doc_id ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
             THEN 1 ELSE 0 END AS new_island
      FROM ivl
    ),
    grp2 AS (
      SELECT doc_id, s, e,
             SUM(new_island) OVER (PARTITION BY doc_id
                                   ORDER BY s, e) AS island
      FROM flag
    )
    SELECT doc_id, MIN(s) AS span_start, MAX(e) AS span_end,
           CAST(MAX(e) - MIN(s) + 1 AS BIGINT) AS span_words
    FROM grp2 GROUP BY doc_id, island
    ORDER BY doc_id, span_start
"""


def _substring_spans_frame(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """LAZY merged-span frame (doc_id, span_start, span_end,
    span_words) + the posts cache handle — shared by
    dedup_substring_spans (which materializes it as its result) and
    dedup_cut_spans (which consumes it in-plan and materializes only
    its own cleaned-corpus tail, so the chain is not paid twice).  The
    caller owns the lifecycle: materialize the final result, then
    ``posts.unpersist()``."""
    mm, posts = _diagonal_matches(spark, sf_dir)
    m = mm.select(
        "da", "db", "pb", (F.col("pa") - F.col("pb")).alias("delta")
    )
    wrun = Window.partitionBy("da", "db", "delta").orderBy("pb")
    runs = (
        m.withColumn("grp", F.col("pb") - F.row_number().over(wrun))
        .groupBy("da", "db", "delta", "grp")
        .agg(F.min("pb").alias("s"), F.count("*").alias("run_len"))
        .where(F.col("run_len") >= SUBRUN_MIN)
        .select(
            F.col("db").alias("doc_id"),
            "s",
            (F.col("s") + F.col("run_len") + F.lit(1)).alias("e"),
        )
    )
    ivl = runs.distinct()
    wdoc = Window.partitionBy("doc_id").orderBy("s", "e")
    prev_max_e = F.max("e").over(
        wdoc.rowsBetween(Window.unboundedPreceding, -1)
    )
    flag = ivl.withColumn(
        "new_island",
        (F.col("s") > F.coalesce(prev_max_e, F.lit(-1))).cast("int"),
    )
    grp2 = flag.withColumn("island", F.sum("new_island").over(wdoc))
    frame = (
        grp2.groupBy("doc_id", "island")
        .agg(
            F.min("s").alias("span_start"),
            F.max("e").alias("span_end"),
            (F.max("e") - F.min("s") + F.lit(1)).alias("span_words"),
        )
        .select(
            "doc_id",
            F.col("span_start").cast("long").alias("span_start"),
            F.col("span_end").cast("long").alias("span_end"),
            F.col("span_words").cast("long").alias("span_words"),
        )
    )
    return frame, posts


@query("dedup_substring_spans", _SUBSPAN_ORACLE)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged duplicated-passage spans per document — the ACTIONABLE
    output of exact-substring dedup: for every doc, the 0-based word
    intervals [span_start, span_end] that verbatim-repeat a passage of
    an earlier (lower doc_id) document, ready to cut before training
    (keep-first policy, matching dedup_span_overlap).  A run of L ≥
    {SUBRUN_MIN} consecutive diagonal matches covers L+2 words;
    overlapping runs — from different source docs or different
    diagonals — merge into maximal spans via the classic
    running-max-end island pass.

    Scale shape: shares ``_diagonal_matches`` (df-capped 64-bit
    positional postings, one exchange, per-key-bounded fan-out) with
    dedup_substring_run; the interval-merge window partitions by
    doc_id — per-document interval counts are bounded by document
    length, so no partition outgrows a task at any corpus size.
    """
    frame, posts = _substring_spans_frame(spark, sf_dir)
    try:
        # barrier: boundary — span-level output (bounded by total document
        # length, not by pair volume): materialize, then release the
        # postings cache
        out = barrier(frame, eager=True)
    finally:
        posts.unpersist()
    return out.orderBy("doc_id", "span_start")


_CUT_SPANS_ORACLE = _SQL_SPAN_RUNS + f"""\
    doc_spans AS (
      SELECT doc_id, list(list_value(s, e)) AS sp
      FROM (SELECT DISTINCT doc_id, s, e FROM runs) GROUP BY doc_id
    ),
    cut AS (
      SELECT d.doc_id,
             d.words,
             list_filter(
               d.words,
               (x, i) -> len(list_filter(
                 coalesce(ds.sp, CAST([] AS BIGINT[][])),
                 sp -> i - 1 >= sp[1] AND i - 1 <= sp[2])) = 0
             ) AS cleaned
      FROM w d LEFT JOIN doc_spans ds ON d.doc_id = ds.doc_id
    )
    SELECT doc_id,
           CAST(len(words) AS BIGINT) AS n_words,
           CAST(len(cleaned) AS BIGINT) AS n_kept,
           coalesce(array_to_string(cleaned, ' '), '') AS cleaned_text
    FROM cut
    ORDER BY doc_id
"""


@query("dedup_cut_spans", _CUT_SPANS_ORACLE)
def dedup_cut_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actionable end of exact-substring dedup (round-7 verdict
    #4): emit the CLEANED corpus — every document's canonical word
    sequence with its duplicated spans (``dedup_substring_spans``,
    keep-first policy: spans mark passages repeating an earlier doc)
    removed.  Docs without spans pass through verbatim; a cut doc keeps
    its unique prose with the verbatim-duplicate passages excised, the
    transformation a training-data pipeline applies before tokenizing.

    Scale shape: the span pipeline is dedup_substring_spans unchanged
    (one df-capped postings exchange); the cut itself is one broadcast-
    able join (span docs only) + a per-row JVM lambda filter over the
    word array — no new shuffle, no Python.
    """
    t = Tables(spark, sf_dir)
    # materialize only the TINY span frame eagerly (bounded by total
    # document length) and release the postings cache right away; the
    # cleaned-corpus tail below stays lazy — an eager tail here would
    # force the full cleaned-text computation even for actions that
    # never read it (round-13: measured +0.8 s on the bench's count())
    frame, posts = _substring_spans_frame(spark, sf_dir)
    try:
        # barrier: boundary — materialize before the postings cache is
        # released
        span_rows = barrier(frame, eager=True)
    finally:
        posts.unpersist()
    spans = span_rows.groupBy("doc_id").agg(
        F.collect_list(F.array("span_start", "span_end")).alias("sp")
    )
    docs = t.documents.select(
        "doc_id", F.expr(_WORDS_EXPR).alias("words")
    )
    return (
        docs.join(F.broadcast(spans), "doc_id", "left")
        .withColumn(
            "sp",
            F.coalesce(
                F.col("sp"), F.expr("CAST(array() AS array<array<bigint>>)")
            ),
        )
        .withColumn(
            "cleaned",
            # Spark filter index i is 0-based (DuckDB's is 1-based —
            # the oracle shifts); a word survives iff no span covers it
            F.expr(
                "filter(words, (x, i) -> size(filter(sp,"
                " s -> i >= s[0] AND i <= s[1])) = 0)"
            ),
        )
        .select(
            "doc_id",
            F.size("words").cast("long").alias("n_words"),
            F.size("cleaned").cast("long").alias("n_kept"),
            F.array_join("cleaned", " ").alias("cleaned_text"),
        )
        .orderBy("doc_id")
    )


_KEEP_LONGEST_ORACLE = (
    _CC_CTES
    + """
    , ranked AS (
      SELECT c.doc_id, c.component_id, d.n_chars,
             ROW_NUMBER() OVER (PARTITION BY c.component_id
                                ORDER BY d.n_chars DESC, c.doc_id) AS rnk
      FROM comp c JOIN documents d ON d.doc_id = c.doc_id
    )
    SELECT doc_id, component_id, n_chars,
           CASE WHEN rnk = 1 THEN 1 ELSE 0 END AS keep
    FROM ranked
    ORDER BY doc_id
"""
)


@query("dedup_keep_longest", _KEEP_LONGEST_ORACLE)
def dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware cluster-representative selection: the same LSH →
    connected-components duplicate groups as
    dedup_connected_components, but the survivor is the LONGEST member
    (ties → min doc_id) instead of the min-id one — the policy real
    curation pipelines use, since the longest near-duplicate usually
    dominates its truncated or boilerplate-trimmed copies.

    Scale shape: adds exactly one broadcast-able projection (doc_id,
    n_chars) and a per-component window to the components pass; the
    window partitions on component_id, whose cardinality is the number
    of duplicate groups — the skew ceiling is the largest duplicate
    cluster, identical to the base operator's.
    """
    from kachess_spark.operators.graph import dedup_groups

    t = Tables(spark, sf_dir)
    pairs, universe = _lsh_pairs_and_universe(spark, sf_dir)
    labeled = dedup_groups(pairs, universe).select("doc_id", "component_id")
    wc = Window.partitionBy("component_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        labeled.join(t.documents.select("doc_id", "n_chars"), "doc_id")
        .withColumn("rnk", F.row_number().over(wc))
        .select(
            "doc_id",
            "component_id",
            "n_chars",
            F.when(F.col("rnk") == 1, 1).otherwise(0).alias("keep"),
        )
        .orderBy("doc_id")
    )


_SOURCE_OVERLAP_ORACLE = (
    _MHV_CTES
    + """
    , labeled AS (
      SELECT least(da.source, db.source) AS source_a,
             greatest(da.source, db.source) AS source_b,
             v.jaccard
      FROM verified v
      JOIN documents da ON da.doc_id = v.doc_a
      JOIN documents db ON db.doc_id = v.doc_b
    )
    SELECT source_a, source_b,
           count(*) AS dup_pairs,
           ROUND(CAST(SUM(CAST(jaccard AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*), 6) AS avg_jaccard
    FROM labeled
    GROUP BY source_a, source_b
    ORDER BY source_a, source_b
"""
)


@query("dedup_source_overlap", _SOURCE_OVERLAP_ORACLE)
def dedup_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix — the governance artifact of
    corpus dedup: for each unordered source pair, the count of
    VERIFIED near-duplicate doc pairs (the dedup_minhash_verified
    chain: banded LSH candidates, exact-Jaccard ≥ τ) and their mean
    Jaccard.  Off-diagonal mass flags mirror/scraped-twice sources
    whose overlap should be deduplicated before mixture weighting;
    diagonal mass is within-source duplication.

    Scale shape: everything heavy is the verified chain (subquadratic
    banded candidates, codegen array_intersect verify); this adds two
    broadcast-able (doc_id, source) joins and a groupBy whose key
    cardinality is #sources² at most — the report never outgrows a
    single partition's worth of output.
    """
    t = Tables(spark, sf_dir)
    ver = dedup_minhash_verified(spark, sf_dir).select("doc_a", "doc_b", "jaccard")
    src = t.documents.select("doc_id", "source")
    labeled = (
        ver.join(
            src.select(
                F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")
            ),
            "doc_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")
            ),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            "jaccard",
        )
    )
    return (
        labeled.groupBy("source_a", "source_b")
        .agg(
            F.count("*").alias("dup_pairs"),
            # exact decimal sum → order-independent mean (raw double
            # AVG is combine-order nondeterministic in Spark)
            F.round(
                F.sum(F.col("jaccard").cast("decimal(18,6)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


# ---- post-hoc registration for the graph-served dedup: its oracle
# composes similarity's descent-chain SQL (imported here, at module
# bottom, so the two pipeline modules keep a one-way import edge).
def _dedup_embedding_graph_oracle() -> str:
    from kachess_spark.pipeline.similarity import (
        KNN_DESCENT_MAX_UNROLL,
        KNN_K,
        _sim_knn_graph_descent_oracle,
    )

    return _sim_knn_graph_descent_oracle(
        tail=f"""SELECT e.vec_id,
           CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS keep
    FROM embeddings e
    LEFT JOIN (
      SELECT DISTINCT src AS vec_id FROM g_e{KNN_DESCENT_MAX_UNROLL}
      WHERE rk <= {KNN_K} AND cosine >= {COS_THRESHOLD} AND dst < src
    ) d ON d.vec_id = e.vec_id
    ORDER BY e.vec_id"""
    )


from kachess_spark.registry import add_oracle as _dedup_add_oracle  # noqa: E402

QUERIES_REGISTER = query("dedup_embedding_graph")(dedup_embedding_graph)
_dedup_add_oracle("dedup_embedding_graph", _dedup_embedding_graph_oracle())
