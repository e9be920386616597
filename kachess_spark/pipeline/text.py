"""Text analysis operators over the documents table.

Language-ID (stopword heuristic), quality scoring, token counting,
document fingerprinting.  All computed with built-in string functions —
no UDFs, so they run JVM-side at full codegen speed on 100 TB.

Portability note: occurrence counts use the length/replace trick
(len(s) - len(replace(s, w, ''))) / len(w) — identical semantics in
Spark and the DuckDB oracle, no regex dialect drift.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kachess_spark.catalog import Tables, barrier, spread
from kachess_spark.registry import query

# Tiny per-language stopword marker sets for the n-gram/stopword
# language heuristic.  Padded with spaces so they only match whole words.
LANG_MARKERS = {
    "en": [" the ", " and ", " of ", " to ", " is "],
    "de": [" der ", " und ", " die ", " ist ", " das "],
    "fr": [" le ", " et ", " les ", " est ", " des "],
    "es": [" el ", " y ", " los ", " es ", " las "],
}


def _count_occurrences(col: Column, needle: str) -> Column:
    """# of occurrences of needle in col via length arithmetic."""
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("int")


def _oracle_count(expr: str, needle: str) -> str:
    return (
        f"CAST((length({expr}) - length(replace({expr}, '{needle}', '')))"
        f" / {len(needle)} AS INT)"
    )


def _padded(col: Column) -> Column:
    return F.concat(F.lit(" "), F.lower(col), F.lit(" "))


_PADDED_SQL = "(' ' || lower(text) || ' ')"


def _lang_score(col: Column, lang: str) -> Column:
    padded = _padded(col)
    score = _count_occurrences(padded, LANG_MARKERS[lang][0])
    for marker in LANG_MARKERS[lang][1:]:
        score = score + _count_occurrences(padded, marker)
    return score


def _oracle_lang_score(lang: str) -> str:
    return " + ".join(_oracle_count(_PADDED_SQL, m) for m in LANG_MARKERS[lang])


@query(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           length(text) AS chars,
           CAST((length(' ' || text || ' ')
                 - length(replace(' ' || text || ' ', ' ', ''))) AS INT) - 1 AS n_tokens,
           CAST(length(replace(text, ' ', '')) AS DOUBLE)
             / (CAST((length(' ' || text || ' ')
                 - length(replace(' ' || text || ' ', ' ', ''))) AS INT) - 1)
             AS avg_token_len
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting + average token length, one pass."""
    t = Tables(spark, sf_dir)
    text = F.col("text")
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    n_tokens = (
        F.length(padded) - F.length(F.replace(padded, F.lit(" "), F.lit("")))
    ).cast("int") - 1
    return t.documents.select(
        "doc_id",
        F.length(text).alias("chars"),
        n_tokens.alias("n_tokens"),
        (
            F.length(F.replace(text, F.lit(" "), F.lit(""))).cast("double") / n_tokens
        ).alias("avg_token_len"),
    )


@query(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
           ROUND(CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)
                 / length(text), 6) AS punct_ratio,
           ROUND(CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
                 / length(text), 6) AS upper_ratio,
           ROUND(CAST({_oracle_lang_score('en')} AS DOUBLE)
                 * 5 / length(text), 6) AS stopword_density,
           CASE WHEN length(text) BETWEEN 100 AND 20000
                 AND CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)
                     / length(text) < 0.1
                THEN 1 ELSE 0 END AS quality_pass
    FROM documents
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality heuristics: punctuation ratio, uppercase ratio, stopword
    density, and a pass/fail gate — the C4/Gopher-style cheap filters."""
    t = Tables(spark, sf_dir)
    text = F.col("text")
    n = F.length(text)
    punct = F.length(F.regexp_replace(text, "[^.,!?;:]", ""))
    upper = F.length(F.regexp_replace(text, "[^A-Z]", ""))
    stop_density = _lang_score(text, "en").cast("double") * 5 / n
    punct_ratio = punct.cast("double") / n
    return t.documents.select(
        "doc_id",
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(upper.cast("double") / n, 6).alias("upper_ratio"),
        F.round(stop_density, 6).alias("stopword_density"),
        F.when(n.between(100, 20000) & (punct_ratio < 0.1), 1)
        .otherwise(0)
        .alias("quality_pass"),
    )


_LANG_GUESS_SQL = f"""
    CASE WHEN {_oracle_lang_score('en')} >= {_oracle_lang_score('de')}
          AND {_oracle_lang_score('en')} >= {_oracle_lang_score('fr')}
          AND {_oracle_lang_score('en')} >= {_oracle_lang_score('es')}
          AND {_oracle_lang_score('en')} > 0 THEN 'en'
         WHEN {_oracle_lang_score('de')} >= {_oracle_lang_score('fr')}
          AND {_oracle_lang_score('de')} >= {_oracle_lang_score('es')}
          AND {_oracle_lang_score('de')} > 0 THEN 'de'
         WHEN {_oracle_lang_score('fr')} >= {_oracle_lang_score('es')}
          AND {_oracle_lang_score('fr')} > 0 THEN 'fr'
         WHEN {_oracle_lang_score('es')} > 0 THEN 'es'
         ELSE 'unknown' END
"""


def _lang_guess(text: Column) -> Column:
    """The Spark twin of ``_LANG_GUESS_SQL``: argmax of the per-language
    marker counts, ties broken en>de>fr>es, 'unknown' with no marker."""
    en, de = _lang_score(text, "en"), _lang_score(text, "de")
    fr, es = _lang_score(text, "fr"), _lang_score(text, "es")
    return (
        F.when((en >= de) & (en >= fr) & (en >= es) & (en > 0), "en")
        .when((de >= fr) & (de >= es) & (de > 0), "de")
        .when((fr >= es) & (fr > 0), "fr")
        .when(es > 0, "es")
        .otherwise("unknown")
    )


@query(
    "text_lang_id",
    oracle=f"""
    SELECT doc_id, lang, {_LANG_GUESS_SQL} AS lang_guess
    FROM documents
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID (n-gram heuristic): argmax over
    per-language marker counts, ties broken en>de>fr>es."""
    t = Tables(spark, sf_dir)
    guess = _lang_guess(F.col("text"))
    return t.documents.select("doc_id", "lang", guess.alias("lang_guess"))


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))) AS fp,
           substring(md5(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))), 1, 4)
             AS fp_bucket
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-form document fingerprint: strip to [a-z0-9 ], md5.
    The fp_bucket prefix is the shard key a 100 TB dedup would
    repartition on (uniform by construction)."""
    t = Tables(spark, sf_dir)
    canon = F.lower(F.regexp_replace(F.col("text"), "[^a-zA-Z0-9 ]", ""))
    return t.documents.select(
        "doc_id",
        F.md5(canon).alias("fp"),
        F.substring(F.md5(canon), 1, 4).alias("fp_bucket"),
    )


_PII_ORACLE = r"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]',
               'g'),
             '\+?[0-9][0-9 ()-]{7,}[0-9]', '[PHONE]', 'g') AS redacted,
           length(regexp_replace(text, '[^@]', '', 'g')) AS n_at_signs
    FROM documents
    WHERE doc_id % 29 = 0
    ORDER BY doc_id
"""


@query("text_pii_redact", _PII_ORACLE)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: email and phone-shaped spans replaced with tags —
    the mandatory pre-training redaction pass.  Patterns restricted to
    syntax Java regex and RE2 interpret identically (no backrefs, no
    lookaround)."""
    t = Tables(spark, sf_dir)
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone = r"\+?[0-9][0-9 ()-]{7,}[0-9]"
    return (
        t.documents.where(F.col("doc_id") % 29 == 0)
        .select(
            "doc_id",
            F.regexp_replace(
                F.regexp_replace("text", email, "[EMAIL]"), phone, "[PHONE]"
            ).alias("redacted"),
            F.length(F.regexp_replace("text", "[^@]", "")).alias("n_at_signs"),
        )
        .orderBy("doc_id")
    )


_NGRAM_ORACLE = """
    WITH words AS (
      SELECT doc_id, lang,
             list_filter(string_split(lower(
               regexp_replace(text, '[^a-zA-Z ]', '', 'g')), ' '),
               w -> w <> '') AS ws
      FROM documents
    ),
    bigrams AS (
      SELECT lang, ws[i] || ' ' || ws[i+1] AS bigram
      FROM words, LATERAL (SELECT unnest(range(1, len(ws))) AS i)
      WHERE len(ws) >= 2
    ),
    counted AS (
      SELECT lang, bigram, count(*) AS cnt FROM bigrams GROUP BY 1, 2
    )
    SELECT lang, bigram, cnt, rk FROM (
      SELECT lang, bigram, cnt,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY cnt DESC, bigram) AS rk
      FROM counted
    ) WHERE rk <= 5
    ORDER BY lang, rk
"""


@query("text_ngram_counts", _NGRAM_ORACLE)
def text_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 word bigrams per language — corpus token statistics.

    Physical shape per the dedup lessons: spread before the CPU-bound
    split, materialize the word arrays before the explode, then a plain
    count + per-lang top-k window (tiny groups)."""
    t = Tables(spark, sf_dir)
    # barrier: boundary — the explode-pushdown trap (see dedup._with_shingles)
    words = barrier(
        spread(t.documents.select("doc_id", "lang", "text"), "doc_id")
        .select(
            "lang",
            F.expr(
                "filter(split(lower(regexp_replace(text, '[^a-zA-Z ]', '')),"
                " ' '), w -> w <> '')"
            ).alias("ws"),
        )
        .where(F.size("ws") >= 2)
    )
    bigrams = words.select(
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(0, size(ws) - 2),"
                " i -> concat_ws(' ', ws[i], ws[i+1]))"
            )
        ).alias("bigram"),
    )
    counted = bigrams.groupBy("lang", "bigram").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), "bigram")
    return (
        counted.select("lang", "bigram", "cnt", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= 5)
        .orderBy("lang", "rk")
    )


_READABILITY_ORACLE = """
    SELECT doc_id,
           len(list_filter(string_split_regex(text, '[.!?]+'),
                           s -> trim(s) <> '')) AS n_sentences,
           len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_words,
           ROUND(CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
                      AS DOUBLE)
                 / GREATEST(len(list_filter(string_split_regex(text, '[.!?]+'),
                                            s -> trim(s) <> '')), 1),
                 4) AS avg_sentence_len
    FROM documents
    WHERE doc_id % 41 = 0
    ORDER BY doc_id
"""


@query("text_readability", _READABILITY_ORACLE)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability profile: sentence count (punctuation-split), word
    count, average sentence length — the cheap fluency features next to
    text_quality_score in a filtering stack."""
    t = Tables(spark, sf_dir)
    sentences = F.size(
        F.filter(
            F.split("text", r"[.!?]+"), lambda s: F.trim(s) != ""
        )
    )
    words = F.size(F.filter(F.split("text", " "), lambda w: w != ""))
    return (
        t.documents.where(F.col("doc_id") % 41 == 0)
        .select(
            "doc_id",
            sentences.alias("n_sentences"),
            words.alias("n_words"),
            F.round(
                words.cast("double") / F.greatest(sentences, F.lit(1)), 4
            ).alias("avg_sentence_len"),
        )
        .orderBy("doc_id")
    )


_REPETITION_ORACLE = """
    WITH words AS (
      SELECT doc_id,
             list_filter(string_split(lower(
               regexp_replace(text, '[^a-zA-Z ]', '', 'g')), ' '),
               w -> w <> '') AS ws
      FROM documents
    ),
    wc AS (
      SELECT doc_id, w, count(*) AS c
      FROM (SELECT doc_id, unnest(ws) AS w FROM words)
      GROUP BY doc_id, w
    ),
    wstats AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_words,
             CAST(MAX(c) AS BIGINT) AS top_cnt
      FROM wc GROUP BY doc_id
    ),
    bstats AS (
      SELECT doc_id,
             count(*) AS n_bigrams,
             count(DISTINCT bg) AS n_distinct_bigrams
      FROM (
        SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bg
        FROM words, LATERAL (SELECT unnest(range(1, len(ws))) AS i)
        WHERE len(ws) >= 2
      ) GROUP BY doc_id
    )
    SELECT w.doc_id,
           w.n_words,
           ROUND(CAST(w.top_cnt AS DOUBLE) / CAST(w.n_words AS DOUBLE), 6)
             AS top_word_frac,
           ROUND(1.0 - CAST(b.n_distinct_bigrams AS DOUBLE)
                       / CAST(b.n_bigrams AS DOUBLE), 6) AS dup_bigram_frac,
           (CAST(w.top_cnt AS DOUBLE) / CAST(w.n_words AS DOUBLE) > 0.1
            OR 1.0 - CAST(b.n_distinct_bigrams AS DOUBLE)
                     / CAST(b.n_bigrams AS DOUBLE) > 0.5) AS is_repetitive
    FROM wstats w JOIN bstats b ON b.doc_id = w.doc_id
    ORDER BY w.doc_id
"""


def _doc_words(docs: DataFrame) -> DataFrame:
    """(doc_id, ws): each document's non-empty lower-cased letter words.
    Spread before the CPU-bound split and checkpoint-barriered before
    any explode (the pushdown trap — see dedup._with_shingles)."""
    # barrier: boundary — the explode-pushdown trap (see dedup._with_shingles)
    return barrier(
        spread(docs.select("doc_id", "text"), "doc_id")
        .select(
            "doc_id",
            F.expr(
                "filter(split(lower(regexp_replace(text, '[^a-zA-Z ]', '')),"
                " ' '), w -> w <> '')"
            ).alias("ws"),
        )
    )


@query("text_repetition_profile", _REPETITION_ORACLE)
def text_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: the
    most-frequent-word fraction and the duplicate-bigram fraction, plus
    the keep/drop flag a curation pipeline would gate on (thresholds
    from the Gopher paper's "repetitious text" family, adapted to
    word-stream documents with no line structure).

    Scale plan: both signals come from explode → two-level groupBy
    keyed on doc_id, so each document's stats compute where its tokens
    land — no per-doc collect, no quadratic higher-order-function scan
    of the token array (an O(words^2) transform/filter per row would
    look cheaper on the plan but melts on long documents).  The word
    arrays are repartitioned before the CPU-bound split and
    checkpoint-barriered before explode (the pushdown trap — see
    dedup._with_shingles); word and bigram stats then join on doc_id,
    both sides already hash-partitioned by the groupBys.
    """
    t = Tables(spark, sf_dir)
    words = _doc_words(t.documents)
    wc = (
        words.select("doc_id", F.explode("ws").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
    )
    wstats = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"), F.max("c").alias("top_cnt")
    )
    bigrams = words.where(F.size("ws") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(ws) - 2),"
                " i -> concat_ws(' ', ws[i], ws[i+1]))"
            )
        ).alias("bg"),
    )
    bstats = (
        bigrams.groupBy("doc_id", "bg")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.count("*").alias("n_distinct_bigrams"),
        )
    )
    top_frac = F.col("top_cnt").cast("double") / F.col("n_words").cast("double")
    dup_frac = F.lit(1.0) - F.col("n_distinct_bigrams").cast("double") / F.col(
        "n_bigrams"
    ).cast("double")
    return (
        wstats.join(bstats.withColumnRenamed("doc_id", "b_doc_id"),
                    F.col("doc_id") == F.col("b_doc_id"))
        .select(
            "doc_id",
            "n_words",
            F.round(top_frac, 6).alias("top_word_frac"),
            F.round(dup_frac, 6).alias("dup_bigram_frac"),
            ((top_frac > 0.1) | (dup_frac > 0.5)).alias("is_repetitive"),
        )
        .orderBy("doc_id")
    )


_TFIDF_ORACLE = """
    WITH words AS (
      SELECT doc_id,
             list_filter(string_split(lower(
               regexp_replace(text, '[^a-zA-Z ]', '', 'g')), ' '),
               w -> w <> '') AS ws
      FROM documents
    ),
    tf AS (
      SELECT doc_id, w, count(*) AS tf
      FROM (SELECT doc_id, unnest(ws) AS w FROM words)
      GROUP BY doc_id, w
    ),
    df AS (
      SELECT w, count(DISTINCT doc_id) AS df FROM tf GROUP BY w
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.w,
             ROUND(tf.tf * ln((SELECT n_docs FROM n) / df.df), 6) AS tfidf
      FROM tf JOIN df ON df.w = tf.w
    )
    SELECT doc_id, w AS term, tfidf
    FROM (
      SELECT doc_id, w, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, w) AS rk
      FROM scored
    )
    WHERE rk = 1 AND doc_id % 17 = 0
    ORDER BY doc_id
"""


@query("text_tfidf_top_term", _TFIDF_ORACLE)
def text_tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF feature extraction: per-document term frequencies weighted
    by corpus-level inverse document frequency; each document's single
    most characteristic term.

    Scale plan: TF is one (doc, term) agg; DF re-aggregates TF's
    output (never rescans the corpus); the document count broadcasts
    as a 1-row literal and the DF table broadcasts into the scoring
    join when vocab-sized — at web scale the (doc,term) ⋈ term join
    hash-partitions on term, which is exactly TF's output layout.
    The ln() ratio is one IEEE op chain — engine-identical.
    """
    t = Tables(spark, sf_dir)
    words = _doc_words(t.documents)
    tf = (
        words.select("doc_id", F.explode("ws").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("w").agg(F.count("*").alias("df"))
    n_docs = t.documents.count()
    scored = tf.join(F.broadcast(df), "w").select(
        "doc_id",
        "w",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("tfidf"),
    )
    win = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("w"))
    return (
        scored.select(
            "doc_id", F.col("w").alias("term"), "tfidf",
            F.row_number().over(win).alias("rk"),
        )
        .where((F.col("rk") == 1) & (F.col("doc_id") % 17 == 0))
        .select("doc_id", "term", "tfidf")
        .orderBy("doc_id")
    )


# ----------------------------------------------- linear quality classifier

# Fixed logistic-head weights over cheap features (a stand-in for a
# trained fastText/logreg quality model; weights would ship as a config
# dim at 100 TB and broadcast in — plan identical)
_QC_W_TOKENS = 0.35  # log1p(token count)
_QC_W_WORDLEN = 0.8  # mean word length
_QC_W_PUNCT = -20.0  # punctuation ratio
_QC_W_STOP = 2.5  # stopword density
_QC_BIAS = -4.0


_QC_ORACLE = f"""
    WITH f AS (
      SELECT doc_id,
             ln(1 + len(list_filter(string_split(text, ' '), w -> w <> '')))
               AS log_tokens,
             CAST(length(replace(text, ' ', '')) AS DOUBLE)
               / len(list_filter(string_split(text, ' '), w -> w <> ''))
               AS mean_wordlen,
             CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS DOUBLE)
               / length(text) AS punct_ratio,
             CAST({_oracle_lang_score("en")} AS DOUBLE) * 5
               / length(text) AS stop_density
      FROM documents
    )
    SELECT doc_id,
           ROUND({_QC_W_TOKENS} * log_tokens + {_QC_W_WORDLEN} * mean_wordlen
                 + {_QC_W_PUNCT} * punct_ratio + {_QC_W_STOP} * stop_density
                 + {_QC_BIAS}, 6) AS logit,
           CASE WHEN {_QC_W_TOKENS} * log_tokens
                     + {_QC_W_WORDLEN} * mean_wordlen
                     + {_QC_W_PUNCT} * punct_ratio
                     + {_QC_W_STOP} * stop_density + {_QC_BIAS} > 0
                THEN 1 ELSE 0 END AS keep
    FROM f
    ORDER BY doc_id
"""


@query("text_quality_classifier", _QC_ORACLE)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring: a logistic-regression head over
    cheap text features (log token count, mean word length, punctuation
    ratio, stopword density), entirely in whole-stage codegen — the
    shape of a fastText/linear quality classifier without leaving the
    JVM.  Emits the LINEAR logit (pure IEEE multiply/add — bit-identical
    across engines) rather than sigmoid(logit): exp() implementations
    may differ by 1 ulp between engines, and the sigmoid is monotone, so
    thresholding the logit at 0 is the same decision as p > 0.5.

    Scale: per-row projection only — no shuffle, no UDF; at 100 TB the
    weight vector arrives as a broadcast config row instead of literals.
    """
    t = Tables(spark, sf_dir)
    text = F.col("text")
    words = F.filter(F.split(text, " "), lambda w: w != "")
    n_tokens = F.size(words)
    log_tokens = F.log1p(n_tokens.cast("double"))
    mean_wordlen = (
        F.length(F.replace(text, F.lit(" "), F.lit(""))).cast("double")
        / n_tokens
    )
    punct_ratio = (
        F.length(F.regexp_replace(text, "[^.,!?;:]", "")).cast("double")
        / F.length(text)
    )
    stop_density = _lang_score(text, "en").cast("double") * 5 / F.length(text)
    logit = (
        F.lit(_QC_W_TOKENS) * log_tokens
        + F.lit(_QC_W_WORDLEN) * mean_wordlen
        + F.lit(_QC_W_PUNCT) * punct_ratio
        + F.lit(_QC_W_STOP) * stop_density
        + F.lit(_QC_BIAS)
    )
    return t.documents.select(
        "doc_id",
        F.round(logit, 6).alias("logit"),
        F.when(logit > 0, 1).otherwise(0).alias("keep"),
    ).orderBy("doc_id")


# ------------------------------------------------ BPE-style token stats

# GPT-2-style pretokenizer, restricted to constructs Java regex and RE2
# (DuckDB) interpret identically: contractions, space-prefixed letter
# runs, space-prefixed digit runs, space-prefixed punctuation runs,
# whitespace runs.  (The original's trailing-space lookahead is RE2-
# incompatible and only affects token boundaries at EOS.)
_BPE_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+|\s+"
_BPE_SQL = _BPE_RE.replace("'", "''")  # escape the contraction apostrophe


_BPE_ORACLE = f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{_BPE_SQL}')) AS n_bpe_tokens,
           len(list_filter(string_split(text, ' '), w -> w <> ''))
             AS n_ws_tokens,
           ROUND(CAST(length(text) AS DOUBLE)
                 / len(regexp_extract_all(text, '{_BPE_SQL}')), 4)
             AS chars_per_token
    FROM documents
    ORDER BY doc_id
"""


@query("text_bpe_token_stats", _BPE_ORACLE)
def text_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-aware accounting: per-document token counts under a
    BPE-style pretokenizer regex (contractions / letter runs / digit
    runs / punctuation runs, GPT-2's shape) next to the whitespace
    count, plus chars-per-token — the compression-ratio signal quality
    filters and cost models key on.  Pure JVM regexp_extract_all; the
    pattern is restricted to the Java∩RE2-identical subset so the
    oracle tokenizes byte-for-byte the same.
    """
    t = Tables(spark, sf_dir)
    toks = F.expr(f"regexp_extract_all(text, \"{_BPE_RE}\", 0)")
    n_bpe = F.size(toks)
    return t.documents.select(
        "doc_id",
        n_bpe.alias("n_bpe_tokens"),
        F.size(F.filter(F.split(F.col("text"), " "), lambda w: w != "")).alias(
            "n_ws_tokens"
        ),
        F.round(F.length("text").cast("double") / n_bpe, 4).alias(
            "chars_per_token"
        ),
    ).orderBy("doc_id")


# ------------------------------------------- unigram likelihood scoring

_UNIGRAM_ORACLE = f"""
    WITH w AS (
      SELECT doc_id, unnest(list_filter(
        string_split(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')), ' '), x -> x <> '')) AS word
      FROM documents
    ),
    vocab AS (
      SELECT word,
             (CAST(count(*) AS BIGINT) * 1000000)
               // (SELECT count(*) FROM w) AS freq_ppm
      FROM w GROUP BY word
    )
    SELECT w.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(SUM(v.freq_ppm) AS BIGINT) // count(*) AS avg_freq_ppm
    FROM w JOIN vocab v ON w.word = v.word
    GROUP BY w.doc_id
    ORDER BY w.doc_id
"""


@query("text_unigram_likelihood", _UNIGRAM_ORACLE)
def text_unigram_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scoring: per-document average corpus
    unigram frequency (parts-per-million) — the cheap-LM filter shape
    (docs of improbable words score low; boilerplate scores high)
    without a model artifact.  All EXACT integer arithmetic (scaled
    ppm + integer division): no ln()/exp(), whose last-ulp behavior
    differs between engines, so the score is bit-stable everywhere.

    Scale: one explode → one vocabulary aggregation (map-side combined,
    vocabulary-sized result, broadcast back) → one per-doc aggregation.
    The vocabulary at web scale still fits executors (10s of millions of
    types); past that the standard move is hashing words to 64-bit ids
    first — same plan.
    """
    t = Tables(spark, sf_dir)
    # barrier: reuse — the total count and the vocabulary read the words
    words = barrier(t.documents.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(
                    F.lower(
                        F.regexp_replace(F.col("text"), "[^a-zA-Z0-9 ]", "")
                    ),
                    " ",
                ),
                lambda x: x != "",
            )
        ).alias("word"),
    ))
    total = words.count()  # one job; vocabulary normalization constant
    vocab = (
        words.groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .select(
            "word",
            F.expr(f"(cnt * 1000000) div {total}").alias("freq_ppm"),
        )
    )
    return (
        words.join(F.broadcast(vocab), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.expr("sum(freq_ppm) div count(*)").alias("avg_freq_ppm"),
        )
        .orderBy("doc_id")
    )


# -------------------------------------------- BPE merge-pair counting

BPE_TOP_PAIRS = 20

_BPE_PAIRS_ORACLE = f"""
    WITH pretok AS (
      SELECT unnest(regexp_extract_all(text, '{_BPE_SQL}')) AS tok
      FROM documents
    ),
    tok_freq AS (
      SELECT tok, count(*) AS n
      FROM pretok
      WHERE length(tok) >= 2
      GROUP BY tok
    ),
    pairs AS (
      SELECT unnest(list_transform(range(1, length(tok)),
                    i -> substr(tok, i, 2))) AS pair,
             n
      FROM tok_freq
    ),
    counts AS (
      SELECT pair, SUM(n)::BIGINT AS pair_count
      FROM pairs
      GROUP BY pair
    )
    SELECT pair, pair_count,
           ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair) AS rank
    FROM counts
    QUALIFY rank <= {BPE_TOP_PAIRS}
    ORDER BY rank
"""


@query("text_bpe_pair_counts", _BPE_PAIRS_ORACLE)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One iteration of distributed BPE vocabulary induction: count
    adjacent symbol pairs across the corpus and rank the top merge
    candidates — the inner step a tokenizer-training pipeline runs over
    the full corpus before each merge.

    The corpus-scale trick is counting pairs per DISTINCT pretoken
    weighted by the pretoken's frequency, not per occurrence: the
    pretoken vocabulary is orders of magnitude smaller than the token
    stream (Zipf), so the expensive character-pair explode runs on the
    small distinct side while the big side only feeds a hash count.
    Both shuffles (pretoken count, pair sum) partial-aggregate
    map-side; ordering ties break on the pair string so the top-k is
    deterministic in both engines.
    """
    t = Tables(spark, sf_dir)
    pretoks = t.documents.select(
        F.explode(F.expr(f'regexp_extract_all(text, "{_BPE_RE}", 0)')).alias("tok")
    )
    tok_freq = (
        pretoks.where(F.length("tok") >= 2).groupBy("tok").agg(F.count("*").alias("n"))
    )
    pairs = tok_freq.select(
        F.explode(
            F.expr("transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")
        ).alias("pair"),
        "n",
    )
    counts = pairs.groupBy("pair").agg(F.sum("n").cast("long").alias("pair_count"))
    w = Window.orderBy(F.col("pair_count").desc(), "pair")
    return (
        counts.select(
            "pair", "pair_count", F.row_number().over(w).alias("rank")
        )
        .where(F.col("rank") <= BPE_TOP_PAIRS)
        .orderBy("rank")
    )


# ------------------------------------------- de-stutter normalization

_DESTUT_WORDS_SQL = (
    "list_filter(string_split(lower(regexp_replace(text,"
    " '[^a-zA-Z0-9 ]', '', 'g')), ' '), w -> w <> '')"
)

_DESTUT_ORACLE = f"""
    WITH w AS (
      SELECT doc_id, {_DESTUT_WORDS_SQL} AS words FROM documents
    ),
    c AS (
      SELECT doc_id, words,
             list_filter(words, (x, i) -> i = 1 OR x <> words[i - 1])
               AS cleaned
      FROM w
    )
    SELECT doc_id,
           len(words) AS n_before,
           len(cleaned) AS n_after,
           md5(array_to_string(cleaned, ' ')) AS cleaned_fp
    FROM c
    ORDER BY doc_id
"""


@query("text_destutter_normalize", _DESTUT_ORACLE)
def text_destutter_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stutter-collapse normalization: drop each word equal to its
    immediate predecessor ("the the the cat" → "the cat") — the cheap
    repetition-REMOVAL transform (cf. the profiling-only
    text_repetition_profile) applied before token counting so crawler
    echo artifacts don't inflate budgets.

    One narrow codegen projection per document: the keep/drop decision
    is an indexed array lambda (Spark filter's 0-based index i is
    exactly the 1-based element_at position of the PREVIOUS word —
    both engines compare w against its predecessor).  Emits before /
    after counts and the md5 of the cleaned stream so the oracle
    checks the transform's content, not just its size.
    """
    t = Tables(spark, sf_dir)
    words = F.expr(
        "filter(split(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '')), ' '),"
        " w -> w != '')"
    )
    d = spread(t.documents.select("doc_id", words.alias("words")), "doc_id")
    cleaned = F.expr(
        "filter(words, (w, i) -> i = 0 OR NOT (w <=> element_at(words, i)))"
    )
    return (
        d.select(
            "doc_id",
            F.size("words").alias("n_before"),
            cleaned.alias("cleaned"),
        )
        .select(
            "doc_id",
            "n_before",
            F.size("cleaned").alias("n_after"),
            F.md5(F.concat_ws(" ", F.col("cleaned"))).alias("cleaned_fp"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------- bigram-LM likelihood

_BIGRAM_ORACLE = """
    WITH w AS (
      SELECT doc_id, list_filter(string_split(lower(
               regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')), ' '),
             x -> x <> '') AS ws
      FROM documents
    ),
    bg AS (
      SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
      FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM w)
    ),
    left_cnt AS (
      SELECT w1, count(*) AS lc FROM bg GROUP BY w1
    ),
    pair_cnt AS (
      SELECT w1, w2, count(*) AS pc FROM bg GROUP BY w1, w2
    ),
    cond AS (
      SELECT p.w1, p.w2,
             (p.pc * 1000000) // l.lc AS cond_ppm
      FROM pair_cnt p JOIN left_cnt l USING (w1)
    )
    SELECT bg.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(c.cond_ppm) AS BIGINT) // count(*) AS avg_cond_ppm
    FROM bg JOIN cond c ON bg.w1 = c.w1 AND bg.w2 = c.w2
    GROUP BY bg.doc_id
    ORDER BY bg.doc_id
"""


# broadcast the conditional table only while it fits the classic 10 MB
# broadcast budget (~50 B per (w1, w2, ppm) row ≈ 200k pairs); past
# that the plan flips to a shuffle join on (w1, w2) automatically
BIGRAM_BROADCAST_MAX_PAIRS = 200_000


@query("text_bigram_likelihood", _BIGRAM_ORACLE)
def text_bigram_likelihood(
    spark: SparkSession,
    sf_dir: str,
    broadcast_max_pairs: int = BIGRAM_BROADCAST_MAX_PAIRS,
) -> DataFrame:
    """Bigram-LM fluency score: per-document average conditional bigram
    probability P(w2|w1) in ppm — the next step up from
    text_unigram_likelihood (word-ORDER sensitivity: scrambled text
    keeps its unigram score but collapses here, the gibberish/MT-noise
    filter signal).  Exact integer arithmetic throughout (scaled ppm,
    integer division) — no ln/exp, bit-stable across engines.

    Scale: one explode to bigram rows → two vocabulary-sized
    aggregations (left-context counts and pair counts, both map-side
    combined) → conditional table joins back → per-doc aggregation.
    The join-back strategy is AUTO-SELECTED: the conditional table is
    bigram-vocabulary-sized and grows with the corpus, so its row
    count is measured first (a vocab-sized agg over the already-
    checkpointed bigram table — no extra corpus scan) and it
    broadcasts only under ``broadcast_max_pairs`` (~10 MB); above
    that the plan flips to a shuffle join on (w1, w2) — the round-4
    "documented but never selected" fallback, now wired
    (tests/test_plans.py pins both plan shapes, and the 16x probe in
    BASELINE.md covers the auto-selected path).
    """
    t = Tables(spark, sf_dir)
    ws = F.filter(
        F.split(
            F.lower(F.regexp_replace(F.col("text"), "[^a-zA-Z0-9 ]", "")),
            " ",
        ),
        lambda x: x != "",
    )
    # barrier: reuse — the left and pair counts read the bigrams
    bg = barrier(
        t.documents.select("doc_id", ws.alias("ws"))
        .where(F.size("ws") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1),"
                    " i -> struct(element_at(ws, i) AS w1,"
                    " element_at(ws, i + 1) AS w2))"
                )
            ).alias("p"),
        )
        .select("doc_id", "p.w1", "p.w2")
    )
    left_cnt = bg.groupBy("w1").agg(F.count("*").alias("lc"))
    pair_cnt = bg.groupBy("w1", "w2").agg(F.count("*").alias("pc"))
    cond = pair_cnt.join(left_cnt, "w1").select(
        "w1", "w2", F.expr("(pc * 1000000) div lc").alias("cond_ppm")
    )
    # vocab-sized count materializes the bigram checkpoint exactly once;
    # every later use (left/pair counts, join-back) reuses it
    n_pairs = pair_cnt.count()
    joined = (
        bg.join(F.broadcast(cond), ["w1", "w2"])
        if n_pairs <= broadcast_max_pairs
        else bg.join(cond.hint("shuffle_hash"), ["w1", "w2"])
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.expr("sum(cond_ppm) div count(*)").alias("avg_cond_ppm"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------ character diversity (Simpson)

_CHAR_DIV_ORACLE = """
    WITH chars AS (
      SELECT doc_id, unnest(string_split(text, '')) AS ch
      FROM documents
    ),
    freq AS (
      SELECT doc_id, ch, COUNT(*) AS cnt FROM chars GROUP BY doc_id, ch
    )
    SELECT doc_id,
           COUNT(*) AS n_distinct_chars,
           CAST(SUM(cnt) AS BIGINT) AS n_chars,
           ROUND(1.0 - CAST(SUM(cnt * cnt) AS DOUBLE)
                       / (CAST(SUM(cnt) AS DOUBLE)
                          * CAST(SUM(cnt) AS DOUBLE)), 6) AS simpson_diversity
    FROM freq
    GROUP BY doc_id
    ORDER BY doc_id
"""


@query("text_char_diversity", _CHAR_DIV_ORACLE)
def text_char_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Gini–Simpson diversity 1 − Σ(cntᵢ/n)² per
    document — the log-free cousin of character entropy (keyboard-mash
    and repeated-char spam score near 0; natural text sits high).
    Chosen over Shannon entropy deliberately: the statistic is a pure
    RATIONAL function of integer counts, so both engines compute the
    identical value with no transcendental-function ulp drift — Σcnt²
    and (Σcnt)² are exact BIGINTs and the single division rounds once.

    Scale: explode to characters → two-level (doc, char) count with
    map-side combine (≤ alphabet-size rows per doc reach the shuffle)
    → per-doc reduce.  At 100 TB the first combine is the whole cost —
    and it is the unavoidable one pass over the bytes.
    """
    t = Tables(spark, sf_dir)
    freq = (
        spread(t.documents, "doc_id")
        .select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .groupBy("doc_id", "ch")
        .agg(F.count("*").alias("cnt"))
    )
    n = F.sum("cnt")
    return (
        freq.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_distinct_chars"),
            n.cast("bigint").alias("n_chars"),
            F.round(
                1.0
                - F.sum(F.col("cnt") * F.col("cnt")).cast("double")
                / (n.cast("double") * n.cast("double")),
                6,
            ).alias("simpson_diversity"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------ BPE merge application

BPE_N_MERGES = 12
BPE_VOCAB_CAP = 65536  # driver-side vocab collect bound (top-K by count)
_EOW = "</w>"


def bpe_learn(vocab: dict[str, int], n_merges: int = BPE_N_MERGES):
    """Reference BPE learning (Sennrich-style) over a word→count
    vocabulary: repeatedly merge the most frequent adjacent symbol pair
    (count ties break lexicographically — deterministic).  Runs on the
    AGGREGATED vocab table, which is how BPE is learned in practice
    (the vocab is millions of types where the corpus is billions of
    tokens), so driver-side execution is the correct sizing."""
    words = {w: tuple(w) + (_EOW,) for w in vocab}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for w, syms in words.items():
            c = vocab[w]
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        merged = best[0] + best[1]
        nxt = {}
        for w, syms in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nxt[w] = tuple(out)
        words = nxt
    return merges


def bpe_encode_word(word: str, merges) -> list[str]:
    """Apply the learned merges in rank order to one word."""
    syms = list(word) + [_EOW]
    for a, b in merges:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


@query("text_bpe_apply")  # tokenization is not SQL-expressible: rows-only
def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end BPE: learn {BPE_N_MERGES} merges from the corpus
    vocabulary (true iterative pair-merge on the aggregated word-count
    table — the text_bpe_pair_counts round, closed into a loop), then
    TOKENIZE every document with them.  Output per doc: subword token
    count, distinct subword types, and compression (chars per BPE
    token) — the artifact a tokenizer-training pipeline materializes.
    Correctness is pytest-pinned against an independent per-word
    re-encoding (rows-only at the driver: merge application is
    inherently procedural, not SQL).

    Scale: learning consumes only the vocab table (one distributed
    word-count agg feeds it; vocab ≪ corpus), and the driver collect is
    HARD-CAPPED at the top {BPE_VOCAB_CAP} types by frequency (ties by
    word) — the web-scale guard: hapax-tail types carry negligible
    pair mass, so learning on the frequency head is the standard
    sizing and the collect stays bounded however large the corpus.
    The merge list (KBs) broadcasts into an Arrow-batched kernel with
    a per-batch word memo — each distinct word per batch encodes once
    however often it repeats.  The corpus-sized work (apply) is
    embarrassingly parallel; the driver never touches a document.

    Self-validating output: every row carries ``verified`` — inside
    the kernel each distinct word is ALSO encoded by an independent
    mechanism (repeated leftmost single-pair replacement to fixpoint,
    vs the operator's one-pass list walker) and the row is true only
    if both encoders agree on every word of the doc.  The driver's
    rows-only check therefore sees the cross-check's result directly
    (tests/test_smoke.py additionally pins totals end-to-end).
    """
    import pandas as pd

    t = Tables(spark, sf_dir)
    words_col = F.explode(
        F.filter(
            F.split(
                F.lower(F.regexp_replace(F.col("text"), "[^a-z ]", "")), " "
            ),
            lambda x: x != "",
        )
    ).alias("word")
    vocab_df = (
        t.documents.select(words_col).groupBy("word").agg(F.count("*").alias("c"))
    )
    vocab = {
        r["word"]: r["c"]
        for r in vocab_df.orderBy(F.desc("c"), "word")
        .limit(BPE_VOCAB_CAP)
        .collect()
    }  # top-K by frequency: bounded for web-scale vocabularies
    merges = bpe_learn(vocab)
    b_merges = spark.sparkContext.broadcast(merges)

    def _encode_replace(word, merges):
        # independent verifier: repeated leftmost SINGLE-pair
        # replacement to fixpoint per merge — different machinery than
        # bpe_encode_word's one-pass walker, same intended semantics
        syms = list(word) + [_EOW]
        for a, b in merges:
            while True:
                for i in range(len(syms) - 1):
                    if syms[i] == a and syms[i + 1] == b:
                        syms[i : i + 2] = [a + b]
                        break
                else:
                    break
        return syms

    def encode_batches(batches):
        # memoize the full encoded symbol list (not just its length) so
        # a repeated word never re-encodes — the else-branch previously
        # re-ran bpe_encode_word per occurrence just for the type set,
        # defeating the memo (round-4 ADVICE).  memo value: (symbols,
        # agrees-with-independent-encoder) — the cross-check also runs
        # once per distinct word per batch.
        memo: dict[str, tuple[list[str], bool]] = {}
        for pdf in batches:
            n_tok, n_types, n_chars, ok = [], [], [], []
            for text in pdf["text"].values:
                ws = [
                    w
                    for w in "".join(
                        ch for ch in text.lower() if ch.isalpha() or ch == " "
                    ).split(" ")
                    if w
                ]
                total, types, chars, agree = 0, set(), 0, True
                for w in ws:
                    hit = memo.get(w)
                    if hit is None:
                        enc = bpe_encode_word(w, b_merges.value)
                        hit = (enc, enc == _encode_replace(w, b_merges.value))
                        memo[w] = hit
                    enc, w_ok = hit
                    types.update(enc)
                    total += len(enc)
                    chars += len(w)
                    agree = agree and w_ok
                n_tok.append(total)
                n_types.append(len(types))
                n_chars.append(chars)
                ok.append(agree)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bpe_tokens": pd.Series(n_tok, dtype="int64"),
                    "n_token_types": pd.Series(n_types, dtype="int64"),
                    "chars_per_token": [
                        round(c / t, 4) if t else 0.0
                        for c, t in zip(n_chars, n_tok)
                    ],
                    "verified": pd.Series(ok, dtype="bool"),
                }
            )

    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("n_bpe_tokens", LongType()),
            StructField("n_token_types", LongType()),
            StructField("chars_per_token", DoubleType()),
            StructField("verified", BooleanType()),
        ]
    )
    return (
        spread(t.documents, "doc_id")
        .select("doc_id", "text")
        .mapInPandas(encode_batches, schema=out_schema)
        .orderBy("doc_id")
    )


# ------------------------------------------- lang-ID confusion matrix

@query(
    "text_lang_confusion",
    oracle=f"""
    WITH guessed AS (
      SELECT lang AS label, {_LANG_GUESS_SQL} AS guess FROM documents
    )
    SELECT label, guess, COUNT(*) AS n,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / SUM(COUNT(*)) OVER (PARTITION BY label), 6) AS frac
    FROM guessed
    GROUP BY label, guess
    ORDER BY label, guess
    """,
)
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation confusion matrix for the stopword language
    identifier against the labeled ``lang`` column: (label, guess)
    counts with per-label recall fractions — the model-eval artifact a
    curation pipeline reports before trusting a filter (here it also
    quantifies the heuristic's en-bias on zh docs, which have no marker
    set).

    Scale: guessing is one codegen expression over the text (no
    tokenize shuffle — the length-arithmetic trick from text_lang_id);
    the matrix is a tiny two-key aggregation with a frameless window
    over its own result.
    """
    t = Tables(spark, sf_dir)
    guess = _lang_guess(F.col("text"))
    guessed = t.documents.select(
        F.col("lang").alias("label"), guess.alias("guess")
    )
    counts = guessed.groupBy("label", "guess").agg(F.count("*").alias("n"))
    w = Window.partitionBy("label")
    return counts.select(
        "label",
        "guess",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(w), 6
        ).alias("frac"),
    ).orderBy("label", "guess")


# ---------------------------------------------- n-gram novelty profile

_NOVELTY_ORACLE = """
WITH w AS (
  SELECT doc_id, list_filter(string_split(lower(
           regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')), ' '),
         x -> x <> '') AS ws
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i FROM w)
),
first_seen AS (
  SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1
)
SELECT s.doc_id,
       count(*) AS n_shingles,
       CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       ROUND(CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS novelty_ratio
FROM sh s JOIN first_seen f USING (shingle)
GROUP BY s.doc_id
ORDER BY s.doc_id
"""


@query("text_ngram_novelty", _NOVELTY_ORACLE)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty in ingestion (doc_id) order: the
    fraction of a doc's distinct 3-gram shingles first seen IN that doc
    — the corpus-redundancy growth curve.  A crawl whose marginal
    novelty decays to ~0 has stopped adding training signal however
    many bytes keep arriving; this is the metric that decision reads.

    Scale: shingles collapse to 64-bit xxhash fingerprints right after
    the explode (8-byte keys everywhere downstream); ONE logical
    shuffle on the fingerprint serves both the global min(doc_id) and
    the join back (same key family, AQE coalesces); the per-doc rollup
    is map-side combined.  No ordering dependence beyond min() —
    "first seen" is an aggregate, not a scan order.
    """
    t = Tables(spark, sf_dir)
    ws_expr = (
        "filter(split(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '')), ' '),"
        " w -> w != '')"
    )
    sh_expr = (
        "transform(sequence(0, size(ws) - 3),"
        " i -> concat_ws(' ', ws[i], ws[i + 1], ws[i + 2]))"
    )
    sh = (
        spread(t.documents, "doc_id")
        .select("doc_id", F.expr(ws_expr).alias("ws"))
        .where(F.size("ws") >= 3)
        .select("doc_id", F.explode(F.expr(sh_expr)).alias("shingle"))
        .select("doc_id", F.xxhash64("shingle").alias("sfp"))
        .distinct()
    )
    first = sh.groupBy("sfp").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first, "sfp")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_novel"),
            F.round(
                F.sum(
                    F.when(
                        F.col("first_doc") == F.col("doc_id"), 1
                    ).otherwise(0)
                ).cast("double")
                / F.count("*"),
                6,
            ).alias("novelty_ratio"),
        )
        .orderBy("doc_id")
    )


# ------------------------------- Gopher-style repetition filters

# Published repetition quality signals (Rae et al. 2021, "Scaling
# Language Models: ... Gopher", table A1): documents dominated by a
# single repeated n-gram or by many duplicated n-grams are boilerplate/
# spam and get filtered before training.  Signals here are the word
# 2-gram and 3-gram variants (the fixture's documents are single-space
# word streams with no line structure).  All arithmetic is exact
# integers (ppm via integer division, the text_unigram_likelihood
# idiom): ratio denominators are character counts, which CAN divide
# 10^7 and would park a 6-dp ROUND exactly on half-way boundaries
# where the engines' rounding rules disagree.
_REPETITION_TOP2_MAX_PPM = 200_000  # Gopher: top-2gram char frac < 0.20
_REPETITION_DUP3_MAX_PPM = 600_000

_REPETITION_ORACLE = f"""
    WITH w AS (
      SELECT doc_id, length(text) AS n_chars,
             string_split(text, ' ') AS ws
      FROM documents
    ),
    t2 AS (
      SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS g
      FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i) t
    ),
    c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM t2 GROUP BY doc_id, g),
    top2 AS (
      SELECT doc_id, c, gl FROM (
        SELECT doc_id, c, length(g) AS gl,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY c DESC, length(g) DESC, g) AS rn
        FROM c2
      ) WHERE rn = 1
    ),
    t3 AS (
      SELECT doc_id, ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS g
      FROM w, LATERAL (SELECT unnest(range(1, len(ws) - 1)) AS i) t
    ),
    c3 AS (SELECT doc_id, g, COUNT(*) AS c FROM t3 GROUP BY doc_id, g),
    dup3 AS (
      SELECT doc_id, SUM(c * length(g)) AS dupchars
      FROM c3 WHERE c > 1 GROUP BY doc_id
    )
    SELECT w.doc_id AS doc_id,
           CAST(COALESCE(top2.c, 0) AS INTEGER) AS top2gram_count,
           CAST(COALESCE(top2.c * top2.gl, 0) * 1000000
                // w.n_chars AS BIGINT) AS top2gram_ppm,
           CAST(COALESCE(dup3.dupchars, 0) * 1000000
                // w.n_chars AS BIGINT) AS dup3gram_ppm,
           (COALESCE(top2.c * top2.gl, 0) * 1000000 // w.n_chars
              < {_REPETITION_TOP2_MAX_PPM}
            AND COALESCE(dup3.dupchars, 0) * 1000000 // w.n_chars
              < {_REPETITION_DUP3_MAX_PPM}) AS repetition_pass
    FROM w
    LEFT JOIN top2 ON w.doc_id = top2.doc_id
    LEFT JOIN dup3 ON w.doc_id = dup3.doc_id
    ORDER BY w.doc_id
"""


@query("text_repetition_signals", _REPETITION_ORACLE)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: the character fraction (exact
    integer ppm) covered by the single most frequent word 2-gram, and
    by ALL duplicated word 3-grams, plus the keep/drop gate at the
    published thresholds — the boilerplate/spam screen a training-data
    pipeline runs corpus-wide before mixing.

    Scale: n-grams are assembled INSIDE the array column (SQL-lambda
    transform over the word array — no window, no per-word explode of
    singles), both orders explode once with a tag, and ONE
    repartition(doc_id) is the plan's only corpus-sized exchange: the
    gram count and the per-doc fold are two back-to-back hash
    aggregations that reuse its clustering, with the top-2-gram argmax
    expressed as MIN over a (−count, −len, gram) struct — no window,
    no self-joins, so nothing re-reads the corpus (a first cut
    branched c into three filtered joins, and predicate pushdown
    through the repartition cloned the corpus exchange per branch:
    5.6 s → 1.2 s at sf0.1).  A tag-0 sentinel per doc keeps gram-less
    docs alive through the grouped path.  Same shuffle family as the
    shingling dedups (sub-linear to 64x in BASELINE.md); everything
    JVM-side codegen, no UDFs.
    """
    t = Tables(spark, sf_dir)
    base = t.documents.select(
        "doc_id", F.length("text").alias("n_chars"), F.split("text", " ").alias("ws")
    )
    grams = (
        base.select(
            "doc_id",
            "n_chars",
            F.explode(
                F.expr(
                    "concat("
                    " array(struct(0 as tag, '' as g)),"
                    " if(size(ws) >= 2,"
                    "    transform(sequence(0, size(ws) - 2),"
                    "      i -> struct(2 as tag,"
                    "                  concat_ws(' ', ws[i], ws[i + 1]) as g)),"
                    "    array()),"
                    " if(size(ws) >= 3,"
                    "    transform(sequence(0, size(ws) - 3),"
                    "      i -> struct(3 as tag,"
                    "                  concat_ws(' ', ws[i], ws[i + 1],"
                    "                            ws[i + 2]) as g)),"
                    "    array()))"
                )
            ).alias("x"),
        )
        .select("doc_id", "n_chars", F.col("x.tag").alias("tag"),
                F.col("x.g").alias("g"))
        .repartition("doc_id")  # the plan's ONE corpus-sized exchange
    )
    c = grams.groupBy("doc_id", "n_chars", "tag", "g").agg(
        F.count("*").alias("c")
    )
    # argmax over (c DESC, length(g) DESC, g ASC) as MIN of the
    # sign-flipped struct — struct comparison is field-lexicographic,
    # so min((-c, -gl, g)) is exactly the window top-1 without a window
    per_doc = c.groupBy("doc_id", "n_chars").agg(
        F.min(
            F.when(
                F.col("tag") == 2,
                F.struct(
                    (-F.col("c")).alias("nc"),
                    (-F.length("g")).alias("ngl"),
                    F.col("g").alias("g"),
                ),
            )
        ).alias("m2"),
        F.sum(
            F.when(
                (F.col("tag") == 3) & (F.col("c") > 1),
                F.col("c") * F.length("g"),
            ).otherwise(F.lit(0))
        ).alias("dupchars"),
    )
    top2_ppm = F.expr("coalesce(-m2.nc * -m2.ngl, 0) * 1000000 div n_chars")
    dup3_ppm = F.expr("dupchars * 1000000 div n_chars")
    return per_doc.select(
        "doc_id",
        F.coalesce(-F.col("m2.nc"), F.lit(0)).cast("int").alias(
            "top2gram_count"
        ),
        top2_ppm.cast("bigint").alias("top2gram_ppm"),
        dup3_ppm.cast("bigint").alias("dup3gram_ppm"),
        (
            (top2_ppm < F.lit(_REPETITION_TOP2_MAX_PPM))
            & (dup3_ppm < F.lit(_REPETITION_DUP3_MAX_PPM))
        ).alias("repetition_pass"),
    ).orderBy("doc_id")


# ---------------------------------------------- Unicode normalization

# Crafted non-ASCII probe rows (doc_id < 0, never collides with fixture
# ids).  The synthetic documents fixture is ASCII, so these rows are
# what actually exercises NFC composition, control stripping, and
# whitespace collapse; they are injected IDENTICALLY on both sides (the
# Spark plan unions a literal DataFrame, the oracle unions a VALUES
# list rendered from the same constant), so the twin checks the
# transform, not the fixture.
_UNICODE_PROBES: list[tuple[int, str | None]] = [
    (-1, "cafe\u0301 menu"),  # e + combining acute -> \u00e9 (NFC composes)
    (-2, "A\u030angstrom  unit"),  # A + combining ring -> \u00c5, plus a space run
    (-3, "already \u00e9 composed"),  # NFC no-op (already composed)
    (-4, "bell\x07and\x01controls"),  # C0 controls -> space
    (-5, "many     spaces   here"),  # whitespace collapse only
    (-6, "o\u0308\u0304 stacked marks"),  # o+diaeresis+macron -> \u022b
    (-7, None),                           # NULL text propagates as NULL
]


def _unicode_probe_values() -> str:
    rows = []
    for i, s in _UNICODE_PROBES:
        if s is None:
            rows.append(f"({i}, CAST(NULL AS VARCHAR))")
        else:
            rows.append("({}, '{}')".format(i, s.replace("'", "''")))
    return ", ".join(rows)


_UNICODE_NORM_ORACLE = f"""
    WITH src AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT * FROM (VALUES {_unicode_probe_values()}) v(doc_id, text)
    ),
    n AS (
      SELECT doc_id, text,
             trim(regexp_replace(
               nfc_normalize(regexp_replace(text, '[\\x00-\\x1f\\x7f]', ' ', 'g')),
               ' {{2,}}', ' ', 'g')) AS norm
      FROM src
    )
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_before,
           CAST(length(norm) AS BIGINT) AS n_after,
           (text IS DISTINCT FROM norm) AS changed,
           md5(norm) AS norm_fp
    FROM n
    ORDER BY doc_id
"""


@query("text_unicode_normalize", _UNICODE_NORM_ORACLE)
def text_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization + C0-control stripping + whitespace
    collapse — the canonicalization pass a crawler-fed training
    pipeline runs before ANY hashing/dedup step, so that byte-distinct
    but canonically-equal documents (decomposed vs composed accents)
    land in the same dedup buckets.

    Spark has no built-in NFC (probed: no ``normalize``/``nfc``
    routine in 4.1), so composition is the one non-JVM step — an
    Arrow-batched ``pandas_udf`` over ``unicodedata.normalize`` (the
    vectorized slow path, never row-at-a-time Python).  Control-strip
    and space-collapse stay JVM-side codegen ``regexp_replace``.  The
    plan is one narrow projection — no shuffle, no window; the closing
    ORDER BY is presentation only.  The DuckDB twin replays the exact
    chain via ``nfc_normalize`` (verified char-identical to Python's
    unicodedata on the probe set — both implement UAX #15).

    100 TB: per-row map over the corpus, embarrassingly parallel;
    Arrow batch transfer is the only overhead vs pure codegen and is
    amortized at ``spark.sql.execution.arrow.maxRecordsPerBatch``.
    """
    import pandas as pd  # noqa: F401 (pandas_udf signature)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s):
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    t = Tables(spark, sf_dir)
    probes = spark.createDataFrame(
        _UNICODE_PROBES, schema="doc_id bigint, text string"
    )
    src = t.documents.select("doc_id", "text").unionByName(probes)
    ctrl = F.regexp_replace("text", r"[\x00-\x1f\x7f]", " ")
    norm = F.trim(F.regexp_replace(_nfc(ctrl), " {2,}", " "))
    return (
        src.select("doc_id", "text", norm.alias("norm"))
        .select(
            "doc_id",
            F.length("text").cast("bigint").alias("n_before"),
            F.length("norm").cast("bigint").alias("n_after"),
            (~F.col("text").eqNullSafe(F.col("norm"))).alias("changed"),
            F.md5("norm").alias("norm_fp"),
        )
        .orderBy("doc_id")
    )
