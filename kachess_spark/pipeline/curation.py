"""End-to-end corpus curation: the training-data pipeline composed.

Operators chaining the stages a 100 TB curation job runs: the e2e
dedup→quality→stats composition, token-budget mixtures (per-source and
quality-tiered), test-set decontamination, sequence packing, exact
stratified sampling, the full pretrain attrition funnel, and the
dataset-card report.  Stages COMPOSE as declarative plans Catalyst
optimizes jointly (single pass over text for per-doc expressions, one
window per dedup pick, no materialization between "steps"); running
sums use the distributed two-phase prefix sum where a window would cap
parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kachess_spark.catalog import Tables, spread
from kachess_spark.registry import query

_CURATION_ORACLE = """
WITH scored AS (
  SELECT doc_id, lang, text,
         md5(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))) AS fp,
         length(text) AS n_chars,
         len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_tokens,
         CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)
           / length(text) AS punct_ratio
  FROM documents
),
deduped AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
  FROM scored
),
kept AS (
  SELECT * FROM deduped
  WHERE rn = 1 AND n_chars BETWEEN 100 AND 20000 AND punct_ratio < 0.1
)
SELECT lang,
       count(*) AS n_docs,
       SUM(n_tokens)::BIGINT AS total_tokens,
       ROUND(AVG(n_tokens::DOUBLE), 4) AS avg_tokens,
       ROUND(CAST(SUM(CAST(punct_ratio AS DECIMAL(28,14))) AS DOUBLE)
             / count(*), 6) AS avg_punct_ratio
FROM kept
GROUP BY lang
ORDER BY lang
"""


@query("pipeline_curation_e2e", _CURATION_ORACLE)
def pipeline_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → exact dedup (keep lowest doc_id per canonical md5) →
    Gopher-style quality gate (length + punctuation) → per-language
    token accounting for the surviving corpus."""
    t = Tables(spark, sf_dir)
    text = F.col("text")
    scored = t.documents.select(
        "doc_id",
        "lang",
        F.md5(
            F.lower(F.regexp_replace(text, "[^a-zA-Z0-9 ]", ""))
        ).alias("fp"),
        F.length(text).alias("n_chars"),
        F.size(
            F.filter(F.split(text, " "), lambda w: w != "")
        ).alias("n_tokens"),
        (
            F.length(F.regexp_replace(text, "[^.,!?;:]", "")).cast("double")
            / F.length(text)
        ).alias("punct_ratio"),
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    kept = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(
            (F.col("rn") == 1)
            & F.col("n_chars").between(100, 20000)
            & (F.col("punct_ratio") < 0.1)
        )
    )
    # AVG over int tokens: exact (integer sum / count) in both engines
    return (
        kept.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.round(
                F.sum("n_tokens").cast("double") / F.count("*"), 4
            ).alias("avg_tokens"),
            F.round(
                F.sum(F.col("punct_ratio").cast("decimal(28,14)"))
                .cast("double")
                / F.count("*"),
                6,
            ).alias("avg_punct_ratio"),
        )
        .orderBy("lang")
    )


_MIXTURE_ORACLE = """
    WITH toks AS (
      SELECT doc_id, source,
             len(list_filter(string_split(text, ' '), w -> w <> ''))
               AS n_tokens
      FROM documents
    ),
    ordered AS (
      SELECT doc_id, source, n_tokens,
             SUM(n_tokens) OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens
      FROM toks
    )
    SELECT doc_id, source, n_tokens, cum_tokens
    FROM ordered
    WHERE cum_tokens <= 2000
    ORDER BY source, cum_tokens
"""


@query("pipeline_mixture_sample", _MIXTURE_ORACLE)
def pipeline_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture builder: per-source token budgets filled by a
    deterministic content-hash draw.

    Each source contributes docs in md5(doc_id) order until its
    cumulative token count reaches the budget (2000 here) — a seedless,
    engine-portable, reproducible sample whose mixture proportions are
    exact in tokens, not documents.  One shuffle on `source`; the
    cumulative sum is partition-local after it.  At 100 TB budgets come
    from a config dim and broadcast-join in; the plan is unchanged.
    """
    t = Tables(spark, sf_dir)
    toks = t.documents.select(
        "doc_id",
        "source",
        F.size(F.expr("filter(split(text, ' '), w -> w != '')")).alias(
            "n_tokens"
        ),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        toks.select(
            "doc_id",
            "source",
            "n_tokens",
            F.sum("n_tokens").over(w).cast("long").alias("cum_tokens"),
        )
        .where(F.col("cum_tokens") <= 2000)
        .orderBy("source", "cum_tokens")
    )


_DECONTAM_ORACLE = """
    WITH eval_shingles AS (
      SELECT DISTINCT unnest(list_transform(
        range(1, len(string_split(lower(
          regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')), ' ')) - 1),
        i -> string_split(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')), ' ')[i]
          || ' ' || string_split(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')), ' ')[i+1]
          || ' ' || string_split(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')), ' ')[i+2]
      )) AS shingle
      FROM documents WHERE doc_id < 5
    ),
    train AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
        range(1, len(string_split(lower(
          regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')), ' ')) - 1),
        i -> string_split(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')), ' ')[i]
          || ' ' || string_split(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')), ' ')[i+1]
          || ' ' || string_split(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')), ' ')[i+2]
      ))) AS shingle
      FROM documents WHERE doc_id >= 5
    )
    SELECT DISTINCT t.doc_id AS contaminated_doc,
           1 AS hit
    FROM train t JOIN eval_shingles e ON t.shingle = e.shingle
    ORDER BY contaminated_doc
"""


@query("pipeline_decontaminate", _DECONTAM_ORACLE)
def pipeline_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination: flag training docs sharing any word
    3-gram with the eval set (docs 0-4 standing in as the benchmark).

    Relational formulation: explode both sides to (doc, shingle) and
    equi-join on the shingle — contamination detection is a semi-join,
    never a per-pair array intersection, so it scales as a hash join on
    a well-distributed key.  The eval side is tiny → broadcast.  A real
    pipeline would then anti-join the flags back to drop the docs.
    """
    from kachess_spark.pipeline.dedup import _with_shingles

    t = Tables(spark, sf_dir)
    docs = t.documents
    ev = (
        _with_shingles(docs.where(F.col("doc_id") < 5))
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
    )
    train = _with_shingles(docs.where(F.col("doc_id") >= 5)).select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    return (
        train.join(F.broadcast(ev), "shingle")
        .select(F.col("doc_id").alias("contaminated_doc"))
        .distinct()
        .withColumn("hit", F.lit(1))
        .orderBy("contaminated_doc")
    )


# ------------------------------------------------------ sequence packing

_CTX_TOKENS = 2048  # context-window capacity (whitespace tokens)
_PACK_BLOCK = 1000  # doc_ids per prefix-sum block


_PACK_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
      FROM d
    )
    SELECT doc_id, n_tokens, start_offset,
           start_offset // {_CTX_TOKENS} AS bin,
           start_offset % {_CTX_TOKENS} AS offset_in_bin
    FROM c
    ORDER BY doc_id
"""


@query("pipeline_sequence_pack", _PACK_ORACLE)
def pipeline_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining: concatenate the document stream
    in doc_id order and chunk it into {_CTX_TOKENS}-token context
    windows — each doc gets its global token offset, window (bin) index,
    and position within the window.  This is the concat-and-chunk packing
    used to build training batches (documents may straddle windows).

    Scale design: a naive `SUM() OVER (ORDER BY doc_id)` is a
    SINGLE-PARTITION window — the classic 100 TB non-starter.  This runs
    the distributed two-phase prefix sum instead: per-block local
    cumsums (shuffle-partitioned by block), block totals aggregated to a
    metadata-sized frame whose own cumsum is broadcast back, and
    start = block_prefix + local_prefix.  The oracle's single window is
    the semantic spec; the two-phase plan is the executable one.
    """
    t = Tables(spark, sf_dir)
    d = t.documents.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
        F.expr(f"doc_id div {_PACK_BLOCK}").alias("blk"),
    )
    w_local = (
        Window.partitionBy("blk")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = d.withColumn(
        "local_prefix", F.coalesce(F.sum("n_tokens").over(w_local), F.lit(0))
    )
    blk_totals = d.groupBy("blk").agg(F.sum("n_tokens").alias("blk_total"))
    w_blk = Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)
    blk_prefix = blk_totals.select(
        "blk",
        F.coalesce(F.sum("blk_total").over(w_blk), F.lit(0)).alias(
            "blk_prefix"
        ),
    )
    start = (F.col("blk_prefix") + F.col("local_prefix")).cast("bigint")
    return (
        local.join(F.broadcast(blk_prefix), "blk")
        .select("doc_id", "n_tokens", start.alias("start_offset"))
        # integer div, not float: token offsets exceed 2^53 at real scale
        .select(
            "doc_id",
            "n_tokens",
            "start_offset",
            F.expr(f"start_offset div {_CTX_TOKENS}").alias("bin"),
            (F.col("start_offset") % _CTX_TOKENS).alias("offset_in_bin"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------- stratified sampling

_STRATA_K = 20  # docs kept per language


_STRATA_ORACLE = f"""
    SELECT doc_id, lang, draw_rank FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS draw_rank
      FROM documents
    )
    WHERE draw_rank <= {_STRATA_K}
    ORDER BY lang, draw_rank
"""


@query("pipeline_stratified_sample", _STRATA_ORACLE)
def pipeline_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact stratified sampling: exactly {_STRATA_K} documents per
    language, drawn by content-hash order — seedless, reproducible on
    any engine, and EXACT per stratum (TABLESAMPLE and rand() give
    binomial counts, which breaks downstream mixture math).

    Scale: one shuffle on the stratum key; the rank is partition-local
    after it.  For strata too large for one task, the standard refinement
    is a pre-filter on the hash prefix (keep ~2k/|stratum| of rows
    cheaply map-side, then rank exactly) — same plan shape.
    """
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        t.documents.select(
            "doc_id", "lang", F.row_number().over(w).alias("draw_rank")
        )
        .where(F.col("draw_rank") <= _STRATA_K)
        .orderBy("lang", "draw_rank")
    )


# --------------------------------------------- quality-tier curriculum

# Tier cutpoints on the rounded avg-token-length quality proxy: fixed
# constants standing in for an offline profiling pass's quantiles (at
# 100 TB the cutpoints come from percentile_approx over a sample and
# broadcast in as a 3-row dim — the plan below is unchanged).  Both
# engines compare the SAME round(score, 6) value against them, so tier
# membership is deterministic with no float-boundary risk.
QUALITY_CUTS = (4.4, 4.5, 4.65)
TIER_BUDGETS = {1: 1500, 2: 3000, 3: 3000, 4: 1500}  # tokens per tier

_QMIX_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), w -> w <> ''))
               AS n_tokens,
             ROUND(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                   / (CAST(length(' ' || text || ' ')
                      - length(replace(' ' || text || ' ', ' ', '')) AS INT) - 1),
                   6) AS score
      FROM documents
    ),
    tiers AS (
      SELECT doc_id, n_tokens,
             CASE WHEN score < {QUALITY_CUTS[0]} THEN 1
                  WHEN score < {QUALITY_CUTS[1]} THEN 2
                  WHEN score < {QUALITY_CUTS[2]} THEN 3
                  ELSE 4 END AS tier
      FROM toks
    ),
    ordered AS (
      SELECT doc_id, tier, n_tokens,
             SUM(n_tokens) OVER (
               PARTITION BY tier
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens
      FROM tiers
    )
    SELECT doc_id, tier, n_tokens, cum_tokens
    FROM ordered
    WHERE cum_tokens <= CASE tier
        WHEN 1 THEN {TIER_BUDGETS[1]} WHEN 2 THEN {TIER_BUDGETS[2]}
        WHEN 3 THEN {TIER_BUDGETS[3]} ELSE {TIER_BUDGETS[4]} END
    ORDER BY tier, cum_tokens
"""


@query("pipeline_quality_mixture", _QMIX_ORACLE)
def pipeline_quality_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-tier curriculum mixture: tier documents by a cheap
    quality proxy (mean token length, the signal text_token_stats
    computes), then fill a per-tier token budget in deterministic
    md5(doc_id) order — the data-mixing step (quality-bucketed
    sampling, à la DoReMi/CCNet quality buckets) that follows scoring
    in a pretraining pipeline.  Mid tiers get 2× the budget of the
    extremes here; budgets are per-tier constants exactly as the
    per-source budgets in pipeline_mixture_sample.

    Scale: a per-tier `SUM() OVER (ORDER BY …)` caps parallelism at
    the tier count (4 windows, whatever the cluster size — the 8×
    probe showed it), so the running sum is the distributed two-phase
    prefix sum of pipeline_sequence_pack, with the block key a PREFIX
    of the md5 draw key: block order then in-block order equals the
    global draw order, per-(tier, block) local cumsums run on 4·256
    window partitions, and the block-offset table is metadata-sized
    and broadcast back.  The oracle's per-tier window is the semantic
    spec; the two-phase plan is the executable one.
    """
    t = Tables(spark, sf_dir)
    text = F.col("text")
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    n_ws_tokens = (
        F.length(padded) - F.length(F.replace(padded, F.lit(" "), F.lit("")))
    ).cast("int") - 1
    score = F.round(
        F.length(F.replace(text, F.lit(" "), F.lit(""))).cast("double")
        / n_ws_tokens,
        6,
    )
    tier = (
        F.when(score < QUALITY_CUTS[0], 1)
        .when(score < QUALITY_CUTS[1], 2)
        .when(score < QUALITY_CUTS[2], 3)
        .otherwise(4)
    )
    toks = t.documents.select(
        "doc_id",
        F.size(F.expr("filter(split(text, ' '), w -> w != '')")).alias("n_tokens"),
        tier.alias("tier"),
        F.md5(F.col("doc_id").cast("string")).alias("mk"),
    ).withColumn("blk", F.substring("mk", 1, 2))
    w_local = (
        Window.partitionBy("tier", "blk")
        .orderBy("mk", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = toks.withColumn("local_cum", F.sum("n_tokens").over(w_local))
    blk_totals = toks.groupBy("tier", "blk").agg(
        F.sum("n_tokens").alias("blk_total")
    )
    w_blk = (
        Window.partitionBy("tier")
        .orderBy("blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    blk_prefix = blk_totals.select(
        "tier",
        "blk",
        F.coalesce(F.sum("blk_total").over(w_blk), F.lit(0)).alias("blk_prefix"),
    )
    budget = F.create_map(
        *[F.lit(x) for kv in TIER_BUDGETS.items() for x in kv]
    )[F.col("tier")]
    return (
        local.join(F.broadcast(blk_prefix), ["tier", "blk"])
        .select(
            "doc_id",
            "tier",
            "n_tokens",
            (F.col("blk_prefix") + F.col("local_cum"))
            .cast("long")
            .alias("cum_tokens"),
        )
        .where(F.col("cum_tokens") <= budget)
        .orderBy("tier", "cum_tokens")
    )


# ------------------------------------------------------- dataset card

_CARD_ORACLE = """
    WITH f AS (
      SELECT doc_id, lang, source, n_chars,
             len(list_filter(string_split(text, ' '), w -> w <> ''))
               AS toks,
             md5(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))) AS fp
      FROM documents
    ),
    d AS (
      SELECT f.*, COUNT(*) OVER (PARTITION BY fp) AS fpn FROM f
    )
    SELECT lang,
           count(*) AS n_docs,
           SUM(toks)::BIGINT AS total_tokens,
           count(DISTINCT source) AS n_sources,
           SUM(n_chars)::BIGINT AS total_chars,
           ROUND(CAST(SUM(CASE WHEN fpn > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS dup_ratio
    FROM d
    GROUP BY lang
    ORDER BY lang
"""


@query("pipeline_dataset_card", _CARD_ORACLE)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card corpus report: per-language document/token/source
    counts plus the exact-duplicate share — the summary table a curation
    run publishes next to its output (a "datasheet" row per slice).

    Scale: one window over the content fingerprint (same md5 shuffle
    dedup_exact uses) then one groupBy(lang); token counts are the
    whitespace-arithmetic formula (no split-array materialization), and
    every sum is integer-exact so the card is reproducible bit-for-bit.
    """
    t = Tables(spark, sf_dir)
    text = F.col("text")
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    toks = (
        F.length(padded) - F.length(F.replace(padded, F.lit(" "), F.lit("")))
    ).cast("int") - 1
    fp = F.md5(F.lower(F.regexp_replace(text, "[^a-zA-Z0-9 ]", "")))
    d = t.documents.select(
        "lang", "source", "n_chars", toks.alias("toks"), fp.alias("fp")
    ).withColumn("fpn", F.count("*").over(Window.partitionBy("fp")))
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("toks").cast("long").alias("total_tokens"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.round(
                F.sum(F.when(F.col("fpn") > 1, 1).otherwise(0)).cast("double")
                / F.count("*"),
                6,
            ).alias("dup_ratio"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------- pretrain funnel

_FUNNEL_ORACLE = """
WITH base AS (
  SELECT doc_id, lang,
         len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_tok,
         md5(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))) AS fp,
         length(text) AS n_chars,
         CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)
           / length(text) AS punct_ratio,
         lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS canon
  FROM documents
),
ex AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM base) WHERE rn = 1
),
sh AS (
  SELECT doc_id, lang,
         list_distinct(list_transform(
           range(1, len(string_split(canon, ' ')) - 1),
           i -> string_split(canon, ' ')[i] || ' ' ||
                string_split(canon, ' ')[i+1] || ' ' ||
                string_split(canon, ' ')[i+2])) AS shingles
  FROM ex
  WHERE len(string_split(canon, ' ')) >= 3
),
contained AS (
  SELECT DISTINCT a.doc_id
  FROM sh a JOIN sh b
    ON a.lang = b.lang AND a.doc_id <> b.doc_id
  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        / len(a.shingles) >= 0.5
    AND (len(b.shingles) > len(a.shingles)
         OR (len(b.shingles) = len(a.shingles) AND b.doc_id < a.doc_id))
),
near AS (
  SELECT * FROM ex WHERE doc_id NOT IN (SELECT doc_id FROM contained)
),
evl AS (
  SELECT DISTINCT unnest(list_transform(
    range(1, len(string_split(canon, ' ')) - 1),
    i -> string_split(canon, ' ')[i] || ' ' ||
         string_split(canon, ' ')[i+1] || ' ' ||
         string_split(canon, ' ')[i+2])) AS shingle
  FROM base WHERE doc_id < 5
),
contam AS (
  SELECT DISTINCT s.doc_id
  FROM (SELECT doc_id, unnest(shingles) AS shingle
        FROM sh WHERE doc_id >= 5) s
  JOIN evl ON s.shingle = evl.shingle
),
dec AS (
  SELECT * FROM near
  WHERE doc_id >= 5 AND doc_id NOT IN (SELECT doc_id FROM contam)
),
qual AS (
  SELECT * FROM dec
  WHERE n_chars BETWEEN 100 AND 20000 AND punct_ratio < 0.1
)
SELECT * FROM (
  SELECT 1 AS stage, 'raw' AS name,
         count(*) AS n_docs, SUM(n_tok)::BIGINT AS n_tokens FROM base
  UNION ALL
  SELECT 2, 'exact_dedup', count(*), SUM(n_tok)::BIGINT FROM ex
  UNION ALL
  SELECT 3, 'containment_dedup', count(*), SUM(n_tok)::BIGINT FROM near
  UNION ALL
  SELECT 4, 'decontaminated', count(*), SUM(n_tok)::BIGINT FROM dec
  UNION ALL
  SELECT 5, 'quality_gated', count(*), SUM(n_tok)::BIGINT FROM qual
) ORDER BY stage
"""


@query("pipeline_funnel_report", _FUNNEL_ORACLE)
def pipeline_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pretraining-corpus funnel, end to end, with per-stage
    accounting: raw → exact dedup (canonical-md5, keep lowest id) →
    containment dedup (drop docs ≥half-contained in a LARGER surviving
    doc) → eval-set decontamination (3-gram overlap with the held-out
    docs) → quality gate.  One row per stage with surviving docs and
    tokens — the attrition table every curation run reports.

    Scale: SINGLE-PASS flag design (round 7).  Instead of
    materializing five progressively-filtered corpus-sized stage
    tables (the round-4..6 shape: five InMemoryRelations + a 5-branch
    union — at 100 TB that is five cached copies of the corpus), each
    document carries boolean survival flags s2..s5 and ONE aggregation
    computes every stage's (docs, tokens) pair as conditional sums,
    unpivoted to the 5-row report with ``stack``.  The shingle
    postings are ``dedup._shingle_postings`` of the exact-dedup
    survivors (checkpointed once, feeding both the containment pair
    join, ``dedup._shingle_matches``, and the decontamination
    semi-join); the drop sets come back as doc_id marker tables
    left-joined onto the corpus, so the report is one linear job over
    one corpus scan + two small marker joins.
    """
    from kachess_spark.pipeline.dedup import (
        _SHINGLES_EXPR,
        _WORDS_EXPR,
        _shingle_matches,
        _shingle_postings,
    )

    t = Tables(spark, sf_dir)
    text = F.col("text")
    base = t.documents.select(
        "doc_id",
        "lang",
        "text",
        F.size(F.expr("filter(split(text, ' '), w -> w != '')")).alias("n_tok"),
        F.md5(F.lower(F.regexp_replace(text, "[^a-zA-Z0-9 ]", ""))).alias("fp"),
        F.length(text).alias("n_chars"),
        (
            F.length(F.regexp_replace(text, "[^.,!?;:]", "")).cast("double")
            / F.length(text)
        ).alias("punct_ratio"),
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    flagged = base.withColumn("s2", F.row_number().over(w) == F.lit(1))
    _, expl = _shingle_postings(flagged.where("s2"))
    contained = (
        _shingle_matches(expl, F.col("a.doc_id") != F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("ad"),
            F.col("b.doc_id").alias("bd"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count("*").alias("inter"))
        .where(
            (F.col("inter").cast("double") / F.col("na") >= 0.5)
            & (
                (F.col("nb") > F.col("na"))
                | ((F.col("nb") == F.col("na")) & (F.col("bd") < F.col("ad")))
            )
        )
        .select(F.col("ad").alias("doc_id"))
        .distinct()
    )
    evl = (
        base.where(F.col("doc_id") < 5)
        .select("doc_id", F.expr(_WORDS_EXPR).alias("words"))
        .where(F.size("words") >= 3)
        .select(F.explode(F.expr(_SHINGLES_EXPR)).alias("shingle"))
        .distinct()
    )
    contam = (
        expl.where(F.col("doc_id") >= 5)
        .join(F.broadcast(evl), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
    )
    # Survival flags: every stage is the previous stage AND one more
    # predicate; the drop sets arrive as marker tables (contained /
    # contam are strict subsets of the s2 survivors, so a left join +
    # null test reproduces the anti-join exactly).
    flags = (
        flagged.join(
            contained.withColumn("is_cont", F.lit(True)), "doc_id", "left"
        )
        .join(contam.withColumn("is_contam", F.lit(True)), "doc_id", "left")
        .withColumn("s3", F.col("s2") & F.col("is_cont").isNull())
        .withColumn(
            "s4",
            F.col("s3") & (F.col("doc_id") >= 5) & F.col("is_contam").isNull(),
        )
        .withColumn(
            "s5",
            F.col("s4")
            & F.col("n_chars").between(100, 20000)
            & (F.col("punct_ratio") < 0.1),
        )
    )
    def _n(flag):  # conditional (docs, tokens) pair for one stage
        return [
            F.coalesce(F.sum(F.when(flag, 1).otherwise(0)), F.lit(0)).cast(
                "long"
            ),
            F.coalesce(
                F.sum(F.when(flag, F.col("n_tok"))).cast("long"), F.lit(0)
            ),
        ]
    onerow = flags.agg(
        F.count("*").alias("n1"),
        F.coalesce(F.sum("n_tok").cast("long"), F.lit(0)).alias("t1"),
        *[
            m.alias(nm)
            for flag, i in ((F.col("s2"), 2), (F.col("s3"), 3),
                            (F.col("s4"), 4), (F.col("s5"), 5))
            for m, nm in zip(_n(flag), (f"n{i}", f"t{i}"))
        ],
    )
    out = onerow.select(
        F.expr(
            "stack(5, "
            "1, 'raw', n1, t1, "
            "2, 'exact_dedup', n2, t2, "
            "3, 'containment_dedup', n3, t3, "
            "4, 'decontaminated', n4, t4, "
            "5, 'quality_gated', n5, t5"
            ") AS (stage, name, n_docs, n_tokens)"
        )
    ).select(
        F.col("stage").cast("int"),
        "name",
        F.col("n_docs").cast("long"),
        F.col("n_tokens").cast("long"),
    )
    return out.orderBy("stage")


# ------------------------------------------------- per-domain quota

DOMAIN_CAP = 10


@query(
    "pipeline_domain_cap",
    oracle=f"""
    WITH ranked AS (
      SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rk
      FROM documents
    )
    SELECT source, doc_id, n_chars, rk
    FROM ranked WHERE rk <= {DOMAIN_CAP}
    ORDER BY source, rk
    """,
)
def pipeline_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota: keep at most {DOMAIN_CAP} documents per source,
    ranked by length (quality proxy) with doc_id as the deterministic
    tiebreak — the CommonCrawl-style anti-domination filter that stops
    one domain from flooding the training mixture.

    Scale: rank-within-group is one shuffle on source.  Web-scale skew
    (one domain with 10^8 docs) makes that partition hot; the fix at
    scale is the two-phase pattern benched in agg_skew_two_phase —
    per-partition local top-K first (each partition can discard all but
    K rows per source it holds), then the global window over the
    surviving ≤ K·partitions rows per source.  At driver-correctness
    scales the single-window form is the same plan Catalyst picks after
    AQE coalescing; the local-top-K pre-filter composes in front
    without changing this operator's contract.
    """
    t = Tables(spark, sf_dir)
    w = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.col("doc_id")
    )
    return (
        t.documents.select(
            "source", "doc_id", "n_chars", F.row_number().over(w).alias("rk")
        )
        .where(F.col("rk") <= DOMAIN_CAP)
        .orderBy("source", "rk")
    )


# ------------------------------------------- deterministic epoch shuffle

EPOCH_SALT = "ep1"  # change per training epoch for a fresh permutation
N_SHUFFLE_SHARDS = 16  # one hex char of the md5 → 16 shard streams


@query(
    "pipeline_epoch_shuffle",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id,
             md5('{EPOCH_SALT}|' || CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ),
    sharded AS (
      SELECT doc_id, h, substr(h, 1, 1) AS shard,
             ROW_NUMBER() OVER (PARTITION BY substr(h, 1, 1)
                                ORDER BY h, doc_id) AS pos_in_shard
      FROM keyed
    ),
    offsets AS (
      SELECT shard,
             COALESCE(SUM(cnt) OVER (ORDER BY shard
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS off
      FROM (SELECT substr(h, 1, 1) AS shard, COUNT(*) AS cnt
            FROM keyed GROUP BY 1)
    )
    SELECT s.doc_id, s.shard,
           CAST(s.pos_in_shard AS BIGINT) AS pos_in_shard,
           CAST(o.off + s.pos_in_shard - 1 AS BIGINT) AS global_pos
    FROM sharded s JOIN offsets o USING (shard)
    ORDER BY global_pos
    """,
)
def pipeline_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-epoch shuffle: every document gets a
    pseudo-random but reproducible global position (salted-md5 order),
    materialized as (shard, pos_in_shard, global_pos) — the data-order
    randomization a training run performs per epoch, replayable on any
    cluster because there is no RNG state.

    Scale: a single global ROW_NUMBER would serialize into one task, so
    the position is assembled two-phase (the pipeline_sequence_pack
    pattern): rank WITHIN each of the {N_SHUFFLE_SHARDS} md5-prefix
    shards (hash-partitioned window, parallel), plus broadcast shard
    offsets from a 16-row cumulative count — global_pos = offset +
    local rank, no global sort of the corpus anywhere.  Re-salting
    EPOCH_SALT yields an independent permutation per epoch.
    """
    t = Tables(spark, sf_dir)
    keyed = t.documents.select(
        "doc_id",
        F.md5(
            F.concat(F.lit(f"{EPOCH_SALT}|"), F.col("doc_id").cast("string"))
        ).alias("h"),
    )
    sharded = keyed.select(
        "doc_id", "h", F.substring("h", 1, 1).alias("shard")
    )
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    ranked = sharded.select(
        "doc_id", "shard", F.row_number().over(w).alias("pos_in_shard")
    )
    counts = sharded.groupBy("shard").agg(F.count("*").alias("cnt"))
    w_off = (
        Window.orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "shard", F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("off")
    )
    return (
        ranked.join(F.broadcast(offsets), "shard")
        .select(
            "doc_id",
            "shard",
            F.col("pos_in_shard").cast("bigint").alias("pos_in_shard"),
            (F.col("off") + F.col("pos_in_shard") - 1)
            .cast("bigint")
            .alias("global_pos"),
        )
        .orderBy("global_pos")
    )


# --------------------------------------- train / val / test split

SPLIT_SALT = "split1"
# md5 first hex char: 0-b → train (12/16), c-d → val, e-f → test


@query(
    "pipeline_train_val_test",
    oracle=f"""
    WITH assigned AS (
      SELECT doc_id, lang,
             len(list_filter(string_split(text, ' '), w -> w <> ''))
               AS n_tok,
             CASE WHEN substr(md5('{SPLIT_SALT}|' || CAST(doc_id AS VARCHAR)), 1, 1)
                       BETWEEN '0' AND 'b' THEN 'train'
                  WHEN substr(md5('{SPLIT_SALT}|' || CAST(doc_id AS VARCHAR)), 1, 1)
                       BETWEEN 'c' AND 'd' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT lang, split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / SUM(COUNT(*)) OVER (PARTITION BY lang), 6) AS frac_of_lang
    FROM assigned
    GROUP BY lang, split
    ORDER BY lang, split
    """,
)
def pipeline_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic document-level train/val/test split (~75/12.5/12.5
    by salted-md5 hex prefix) with per-language stratification report —
    the leakage-safe split a data pipeline materializes before
    training: membership depends only on (salt, doc_id), so re-runs,
    backfills, and incremental batches route every document to the
    same split with no RNG state and no coordination.

    Scale: split assignment is one codegen expression (no shuffle); the
    report is a (lang, split) aggregation with map-side combine plus a
    frameless window over its tiny result.  At 100 TB the assignment
    column simply becomes the write-partition key
    (df.write.partitionBy("split")) — same expression.
    """
    t = Tables(spark, sf_dir)
    h = F.substring(
        F.md5(
            F.concat(F.lit(f"{SPLIT_SALT}|"), F.col("doc_id").cast("string"))
        ),
        1,
        1,
    )
    assigned = t.documents.select(
        "lang",
        F.size(F.expr("filter(split(text, ' '), w -> w != '')")).alias(
            "n_tok"
        ),
        F.when(h.between("0", "b"), "train")
        .when(h.between("c", "d"), "val")
        .otherwise("test")
        .alias("split"),
    )
    counts = assigned.groupBy("lang", "split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
    )
    w = Window.partitionBy("lang")
    return counts.select(
        "lang",
        "split",
        "n_docs",
        "total_tokens",
        F.round(
            F.col("n_docs").cast("double") / F.sum("n_docs").over(w), 6
        ).alias("frac_of_lang"),
    ).orderBy("lang", "split")


# ---------------------------------------- temperature mixture sampling

MIX_ALPHA_NUM, MIX_ALPHA_DEN = 1, 2  # temperature alpha = 1/2 (sqrt)


@query(
    "pipeline_temperature_mixture",
    oracle=f"""
    WITH sized AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ),
    wts AS (
      -- weight ∝ n^alpha (alpha = {MIX_ALPHA_NUM}/{MIX_ALPHA_DEN});
      -- sqrt keeps head sources from dominating, tail sources sampled up
      SELECT source, n_docs, sqrt(CAST(n_docs AS DOUBLE)) AS w,
             sqrt(CAST(n_docs AS DOUBLE))
               / SUM(sqrt(CAST(n_docs AS DOUBLE))) OVER () AS p
      FROM sized
    ),
    drawn AS (
      SELECT d.source, d.doc_id,
             -- deterministic per-doc uniform in [0,1): first 8 md5 hex
             -- chars as an integer / 16^8
             CAST(('0x' || substr(md5('mix1|' || CAST(d.doc_id AS VARCHAR)),
                                  1, 8)) AS BIGINT)
               / 4294967296.0 AS u,
             w.p * 4.0 AS accept_p
      FROM documents d JOIN wts w USING (source)
    )
    SELECT source,
           COUNT(*) AS n_selected
    FROM drawn WHERE u < accept_p
    GROUP BY source
    ORDER BY source
    """,
)
def pipeline_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture sampling (weight ∝ size^(1/2), the
    multilingual-corpus alpha-sampling standard): each source's accept
    probability derives from its sqrt-damped share, and each document
    draws a DETERMINISTIC uniform from a salted md5 — reproducible
    sampling with no RNG state, head sources damped, tail sources
    up-weighted.  The oracle-checked output is the per-source selection
    census (the mixture a training run would actually consume).

    Scale: source sizes are a tiny aggregation; weights broadcast back;
    the accept test is one codegen expression per row — no shuffle of
    the corpus at all until the final per-source count (map-side
    combined).  Changing the salt redraws the sample; changing alpha
    retunes the mixture — both O(1) metadata edits.
    """
    t = Tables(spark, sf_dir)
    sized = t.documents.groupBy("source").agg(F.count("*").alias("n_docs"))
    w_all = Window.partitionBy()
    wts = sized.select(
        "source",
        (
            F.sqrt(F.col("n_docs").cast("double"))
            / F.sum(F.sqrt(F.col("n_docs").cast("double"))).over(w_all)
        ).alias("p"),
    )
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("mix1|"), F.col("doc_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint") / F.lit(4294967296.0)
    return (
        t.documents.select("source", "doc_id")
        .join(F.broadcast(wts), "source")
        .where(u < F.col("p") * 4.0)
        .groupBy("source")
        .agg(F.count("*").alias("n_selected"))
        .orderBy("source")
    )


# ------------------------------------------ per-doc importance resample

IMP_TOK_CAP = 400  # tokens at (or above) which a doc's accept prob is 1.0


@query(
    "pipeline_importance_resample",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source,
             len(list_filter(string_split(text, ' '), w -> w <> ''))
               AS n_tokens
      FROM documents
    ),
    drawn AS (
      SELECT doc_id, source, n_tokens,
             LEAST(1.0, CAST(n_tokens AS DOUBLE) / {IMP_TOK_CAP}) AS w,
             CAST(('0x' || substr(md5('imp1|' || CAST(doc_id AS VARCHAR)),
                                  1, 8)) AS BIGINT)
               / 4294967296.0 AS u
      FROM scored
    )
    SELECT doc_id, source, n_tokens,
           CAST(floor(w * 1000000) AS BIGINT) AS accept_ppm
    FROM drawn WHERE u < w
    ORDER BY doc_id
    """,
)
def pipeline_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document importance sampling: each doc is kept with
    probability proportional to its own quality weight (here token
    count capped at {IMP_TOK_CAP} — substitute any per-doc score), via
    a DETERMINISTIC salted-md5 uniform — seedless, rerun-stable,
    reproducible on any cluster.  The per-DOC complement of
    pipeline_temperature_mixture's per-SOURCE alpha sampling: that one
    rebalances corpora, this one up-samples individual high-quality
    documents within them.

    Scale: one codegen expression per row — weight, uniform, and the
    accept test are all narrow projections; NO shuffle of the corpus
    at all (the final orderBy is presentation).  Reweighting = editing
    the weight expression; resampling = changing the salt — both O(1)
    metadata edits, no state carried between runs.
    """
    t = Tables(spark, sf_dir)
    scored = t.documents.select(
        "doc_id",
        "source",
        F.size(F.expr("filter(split(text, ' '), w -> w != '')")).alias(
            "n_tokens"
        ),
    )
    w = F.least(
        F.lit(1.0), F.col("n_tokens").cast("double") / IMP_TOK_CAP
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("imp1|"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(4294967296.0)
    )
    return (
        scored.select(
            "doc_id",
            "source",
            "n_tokens",
            w.alias("w"),
            u.alias("u"),
        )
        .where(F.col("u") < F.col("w"))
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.floor(F.col("w") * 1000000).cast("bigint").alias("accept_ppm"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------- boilerplate-line dedup

BP_MIN_DOCS = 3  # a sentence in >= this many distinct docs is boilerplate


@query(
    "text_boilerplate_lines",
    oracle=f"""
    WITH sent AS (
      SELECT DISTINCT doc_id,
             md5(trim(s)) AS sfp
      FROM documents,
           unnest(string_split(text, '.')) AS t(s)
      WHERE trim(s) <> ''
    ),
    freq AS (
      SELECT sfp, count(*) AS n_docs FROM sent GROUP BY 1
    ),
    flagged AS (
      SELECT s.doc_id, s.sfp,
             CASE WHEN f.n_docs >= {BP_MIN_DOCS} THEN 1 ELSE 0 END AS bp
      FROM sent s JOIN freq f USING (sfp)
    )
    SELECT doc_id,
           count(*) AS n_sentences,
           CAST(SUM(bp) AS BIGINT) AS n_boilerplate,
           ROUND(CAST(SUM(bp) AS DOUBLE) / count(*), 6) AS bp_ratio
    FROM flagged
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def text_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document boilerplate detection (the C4/RefinedWeb line-dedup
    step): a sentence whose fingerprint appears in >= {BP_MIN_DOCS}
    DISTINCT documents is boilerplate (nav text, license headers,
    templates); per doc, report its sentence count and boilerplate
    ratio — the signal the curation gate thresholds on.  Doc-level
    dedup (dedup_exact et al.) misses this entirely: two pages can be
    globally unique yet 80% shared chrome.

    Scale: sentences shuffle ONCE on their md5 fingerprint (never the
    raw text — 16-byte keys) for the cross-doc frequency count; the
    flag joins back on the same key (same partitioning family, AQE
    coalesces), and the per-doc rollup is map-side combined.  No
    pairwise comparisons anywhere — boilerplate detection is a
    frequency count, not a similarity join.
    """
    t = Tables(spark, sf_dir)
    sent = (
        spread(t.documents, "doc_id")
        .select(
            "doc_id",
            F.explode(F.split(F.col("text"), "\\.")).alias("s"),
        )
        .where(F.trim(F.col("s")) != "")
        .select("doc_id", F.md5(F.trim(F.col("s"))).alias("sfp"))
        .distinct()
    )
    freq = sent.groupBy("sfp").agg(F.count("*").alias("n_docs"))
    flagged = sent.join(freq, "sfp").select(
        "doc_id",
        F.when(F.col("n_docs") >= BP_MIN_DOCS, 1).otherwise(0).alias("bp"),
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_sentences"),
            F.sum("bp").cast("bigint").alias("n_boilerplate"),
            F.round(
                F.sum("bp").cast("double") / F.count("*"), 6
            ).alias("bp_ratio"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------- sized output shards

_SHARD_TARGET_BYTES = 16_384  # target bytes per output shard
_SHARD_BLOCK = 1000  # doc_ids per prefix-sum block

_SIZED_SHARDS_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, n_chars,
             COALESCE(SUM(n_chars) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS start_offset
      FROM documents
    ),
    assigned AS (
      SELECT doc_id, n_chars,
             start_offset // {_SHARD_TARGET_BYTES} AS shard
      FROM d
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS shard_bytes,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc,
           CAST(sum(n_chars) * 1000000 // {_SHARD_TARGET_BYTES} AS BIGINT)
             AS fill_ppm
    FROM assigned
    GROUP BY shard
    ORDER BY shard
"""


@query("pipeline_sized_shards", _SIZED_SHARDS_ORACLE)
def pipeline_sized_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic size-targeted shard assignment for corpus export:
    every document lands in the shard whose byte range contains its
    start offset in the doc_id-ordered stream (next-fit by offset, the
    layout a sharded-tar / parquet-part writer wants), and the report
    is one row per shard — doc count, actual bytes, boundary doc_ids,
    and fill ratio vs the {_SHARD_TARGET_BYTES}-byte target in exact
    ppm.  The write side of the same problem pipeline_sequence_pack
    solves for training windows: balanced output files at a target
    size, decided by data, reproducible across runs.

    Scale design: the global byte offset is the distributed two-phase
    prefix sum (per-block local cumsum partitioned on blk, plus a
    metadata-sized block-prefix frame broadcast back) — NEVER the
    single-partition `SUM() OVER (ORDER BY doc_id)` the oracle uses as
    its semantic spec.  The per-shard rollup is one map-side-combined
    hash aggregation keyed on the derived shard id; at 100 TB the
    output is ~bytes/target rows (metadata-sized), and the actual file
    write would `repartition("shard")` on the same derived column so
    each task streams exactly one target-sized file.
    """
    t = Tables(spark, sf_dir)
    d = t.documents.select(
        "doc_id",
        "n_chars",
        F.expr(f"doc_id div {_SHARD_BLOCK}").alias("blk"),
    )
    w_local = (
        Window.partitionBy("blk")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = d.withColumn(
        "local_prefix", F.coalesce(F.sum("n_chars").over(w_local), F.lit(0))
    )
    blk_totals = d.groupBy("blk").agg(F.sum("n_chars").alias("blk_total"))
    w_blk = Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)
    blk_prefix = blk_totals.select(
        "blk",
        F.coalesce(F.sum("blk_total").over(w_blk), F.lit(0)).alias(
            "blk_prefix"
        ),
    )
    assigned = (
        local.join(F.broadcast(blk_prefix), "blk")
        .select(
            "doc_id",
            "n_chars",
            # integer div: byte offsets exceed 2^53 at real scale
            F.expr(
                f"(blk_prefix + local_prefix) div {_SHARD_TARGET_BYTES}"
            ).alias("shard"),
        )
    )
    return (
        assigned.groupBy("shard")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("shard_bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .select(
            F.col("shard").cast("bigint").alias("shard"),
            "n_docs",
            "shard_bytes",
            "first_doc",
            "last_doc",
            F.expr(
                f"shard_bytes * 1000000 div {_SHARD_TARGET_BYTES}"
            ).alias("fill_ppm"),
        )
        .orderBy("shard")
    )


# ------------------------------------------------- snapshot diffing

# Deterministic synthetic "next crawl" derived from the documents
# fixture (no second snapshot table in the testdata): every 17th doc
# is dropped, every 13th gets its text revised, and every 19th spawns
# a brand-new doc at doc_id + 1_000_000.  Both engines derive the same
# view, so the diff logic — not the fixture — is what the twin checks.
_SNAP_DROP, _SNAP_EDIT, _SNAP_ADD = 17, 13, 19
_SNAP_ADD_OFFSET = 1_000_000

_SNAPSHOT_DIFF_ORACLE = f"""
    WITH old AS (
      SELECT doc_id, md5(text) AS fp, n_chars FROM documents
    ),
    new AS (
      SELECT doc_id,
             CASE WHEN doc_id % {_SNAP_EDIT} = 5
                  THEN md5(text || ' rev2') ELSE md5(text) END AS fp,
             CASE WHEN doc_id % {_SNAP_EDIT} = 5
                  THEN n_chars + 5 ELSE n_chars END AS n_chars
      FROM documents WHERE doc_id % {_SNAP_DROP} <> 3
      UNION ALL
      SELECT doc_id + {_SNAP_ADD_OFFSET},
             md5(text || ' new'), n_chars + 4
      FROM documents WHERE doc_id % {_SNAP_ADD} = 2
    ),
    diff AS (
      SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
             CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'removed'
                  WHEN o.fp <> n.fp THEN 'changed'
                  ELSE 'unchanged' END AS status,
             COALESCE(n.n_chars, o.n_chars) AS n_chars
      FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    )
    SELECT status,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_bytes,
           min(doc_id) AS min_doc,
           max(doc_id) AS max_doc
    FROM diff
    GROUP BY status
    ORDER BY status
"""


@query("pipeline_snapshot_diff", _SNAPSHOT_DIFF_ORACLE)
def pipeline_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff: classify every document across two crawl
    snapshots as added / removed / changed / unchanged by content
    fingerprint, and report per-status doc counts, byte mass, and
    doc_id bounds — the audit an incremental ingestion run publishes
    before promoting a new corpus version (and the input to "process
    only added+changed" incremental dedup, cf. dedup_minhash_incremental).

    Scale: ONE full-outer join on doc_id between the two snapshots'
    (doc_id, fp, bytes) projections — fingerprints are computed in the
    scan projection, never materialized corpus-wide; at 100 TB both
    snapshots would be bucketed by doc_id so the join is co-located
    (zero shuffle), and the rollup is a 4-row map-side-combined
    aggregate.  The "new" snapshot here is a deterministic view of the
    fixture (drop/edit/add by doc_id residue), derived identically in
    the DuckDB twin.
    """
    t = Tables(spark, sf_dir)
    base = t.documents.select("doc_id", "text", "n_chars")
    old = base.select("doc_id", F.md5("text").alias("fp"), "n_chars")
    edited = F.col("doc_id") % _SNAP_EDIT == 5
    new = (
        base.where(F.col("doc_id") % _SNAP_DROP != 3)
        .select(
            "doc_id",
            F.when(edited, F.md5(F.concat(F.col("text"), F.lit(" rev2"))))
            .otherwise(F.md5("text"))
            .alias("fp"),
            F.when(edited, F.col("n_chars") + 5)
            .otherwise(F.col("n_chars"))
            .alias("n_chars"),
        )
        .unionByName(
            base.where(F.col("doc_id") % _SNAP_ADD == 2).select(
                (F.col("doc_id") + _SNAP_ADD_OFFSET).alias("doc_id"),
                F.md5(F.concat(F.col("text"), F.lit(" new"))).alias("fp"),
                (F.col("n_chars") + 4).alias("n_chars"),
            )
        )
    )
    o = old.select(
        F.col("doc_id").alias("o_id"),
        F.col("fp").alias("o_fp"),
        F.col("n_chars").alias("o_chars"),
    )
    nw = new.select(
        F.col("doc_id").alias("n_id"),
        F.col("fp").alias("n_fp"),
        F.col("n_chars").alias("n_chars"),
    )
    diff = o.join(nw, o.o_id == nw.n_id, "full_outer").select(
        F.coalesce("o_id", "n_id").alias("doc_id"),
        F.when(F.col("o_id").isNull(), "added")
        .when(F.col("n_id").isNull(), "removed")
        .when(F.col("o_fp") != F.col("n_fp"), "changed")
        .otherwise("unchanged")
        .alias("status"),
        F.coalesce("n_chars", "o_chars").alias("n_chars"),
    )
    return (
        diff.groupBy("status")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_bytes"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("status")
    )
