"""Corpus-curation operators a large-scale training-data pipeline needs
beyond per-document stats: repetition quality signals (Gopher-style),
PII redaction, overlapping document chunking, and cross-document
boilerplate n-gram detection.

All four are pure built-in-function plans (split/transform/explode +
two-level aggregation) — no Python UDFs, fully codegen-able, and the
explodes pipeline inside the scan stage, so the shapes hold at 100 TB:
the only shuffles are the final small aggregations on (doc_id) or
(shingle).

Determinism: every ratio is a quotient of exact integer counts, rounded
identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import (
    SQL_MD5_LONG,
    md5_long,
    sql_word_shingles,
    word_shingles,
    words,
)
from ..queries import register
from ..sources.batch import load_table


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


@register(
    "corpus_ngram_lm_counts",
    oracle=f"""
    WITH grams AS (
      SELECT unnest({sql_word_shingles("string_split(text, ' ')")}) AS ngram
      FROM documents
    ), counts AS (
      SELECT ngram, count(*) AS n FROM grams GROUP BY ngram HAVING count(*) >= 3
    )
    SELECT ngram, CAST(n AS BIGINT) AS n
    FROM counts ORDER BY n DESC, ngram LIMIT 100
    """,
    doc="Count-based n-gram LM statistics — the first stage of every "
    "corpus-scale LM count pipeline (Kneser-Ney training, infini-gram "
    "indexes, contamination lookups): explode 3-gram shingles, count, "
    "prune singletons/doubletons (the count cutoff that keeps "
    "count-based LM tables tractable — at 100 TB the pruned tail IS "
    "most of the table), then the deterministic top-100 head.  One "
    "shuffle total: the shingle explode pipelines inside the scan "
    "stage, the count is map-side combinable, and the global top-k is "
    "TakeOrdered (per-partition heads merged on the driver — no sort "
    "shuffle, no single-partition window).  Ties broken by the ngram "
    "text so the LIMIT boundary is a strict total order on both "
    "engines.",
)
def corpus_ngram_lm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    grams = docs.select(
        F.explode(word_shingles(words("text"))).alias("ngram")
    )
    counts = (
        grams.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 3)
    )
    return (
        counts.orderBy(F.col("n").desc(), "ngram")
        .limit(100)
        .select("ngram", F.col("n").cast("long").alias("n"))
    )


@register(
    "text_repetition_signals",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ), freq AS (
      SELECT doc_id, word, count(*) AS n FROM tok GROUP BY doc_id, word
    )
    SELECT doc_id,
           CAST(sum(n) AS BIGINT) AS n_words,
           count(*) AS n_distinct,
           CAST(max(n) AS BIGINT) AS top_word_count,
           round(1.0 - count(*) * 1.0 / sum(n), 4) AS dup_word_frac,
           round(max(n) * 1.0 / sum(n), 4) AS top_word_frac
    FROM freq GROUP BY doc_id
    """,
    doc="Gopher-style repetition quality signals: duplicate-word fraction "
    "and top-word fraction per document, via explode + two-level "
    "aggregation (word counts first, then per-doc rollup). Both "
    "aggregations are map-side combinable; the explode is a narrow "
    "transform. The classic filter 'drop docs with top_word_frac > 0.2' "
    "is then a cheap predicate on this output.",
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    tok = docs.select("doc_id", F.explode(words("text")).alias("word"))
    freq = tok.groupBy("doc_id", "word").agg(F.count("*").alias("n"))
    return freq.groupBy("doc_id").agg(
        F.sum("n").alias("n_words"),
        F.count("*").alias("n_distinct"),
        F.max("n").alias("top_word_count"),
        F.round(1.0 - F.count("*") * 1.0 / F.sum("n"), 4).alias("dup_word_frac"),
        F.round(F.max("n") * 1.0 / F.sum("n"), 4).alias("top_word_frac"),
    )


_EMAIL_RE = r"[a-z0-9]+@[a-z]+\.[a-z]+"
_PHONE_RE = r"\+1-[0-9]{3}-[0-9]{4}"


@register(
    "text_pii_redaction",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id,
             text || ' contact user' || doc_id ||
             '@example.com or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               AS raw_text
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id,
           len(regexp_extract_all(raw_text, '{_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(raw_text, '{_PHONE_RE}')) AS n_phones,
           regexp_replace(
             regexp_replace(raw_text, '{_EMAIL_RE}', '[EMAIL]', 'g'),
             '{_PHONE_RE}', '[PHONE]', 'g'
           ) AS redacted
    FROM raw
    """,
    doc="PII redaction: email/phone regex counting + replacement over a "
    "deterministically synthesized contact suffix (the corpus itself is "
    "PII-free, so redaction must be provable). Patterns restricted to the "
    "RE2-compatible subset so Java regex (Spark) and RE2 (DuckDB) agree; "
    "DuckDB needs the explicit 'g' flag to match Spark's replace-all. "
    "Narrow row-local transform — no shuffle at any scale. Companion to "
    "pipeline_ip_masking (operators/pipeline.py).",
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    raw = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("raw_text"),
    )
    return raw.select(
        "doc_id",
        F.size(F.regexp_extract_all("raw_text", F.lit(_EMAIL_RE), F.lit(0))).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all("raw_text", F.lit(_PHONE_RE), F.lit(0))).alias(
            "n_phones"
        ),
        F.regexp_replace(
            F.regexp_replace("raw_text", _EMAIL_RE, "[EMAIL]"),
            _PHONE_RE,
            "[PHONE]",
        ).alias("redacted"),
    )


@register(
    "text_chunk_overlap",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws
      FROM documents WHERE doc_id < 300
    ), starts AS (
      SELECT doc_id, ws,
             unnest(generate_series(1, greatest(1, len(ws)), 15)) AS start_pos,
             unnest(generate_series(0,
               CAST(ceil(greatest(1, len(ws)) / 15.0) AS BIGINT) - 1)) AS chunk_idx
      FROM w
    )
    SELECT doc_id, chunk_idx,
           least(20, len(ws) - start_pos + 1) AS n_chunk_words,
           array_to_string(ws[start_pos : start_pos + 19], ' ') AS chunk_text
    FROM starts
    """,
    doc="Overlapping fixed-size chunking (window 20 words, stride 15) for "
    "context-window-bounded training samples: sequence of start offsets "
    "-> posexplode -> slice. Pure narrow plan — chunking parallelizes "
    "with the scan and never shuffles; at 100 TB the output is written "
    "directly, partitioned by a hash of doc_id.",
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    w = docs.select("doc_id", words("text").alias("ws"))
    starts = w.select(
        "doc_id",
        "ws",
        F.posexplode(
            F.sequence(F.lit(1), F.greatest(F.lit(1), F.size("ws")), F.lit(15))
        ).alias("chunk_idx", "start_pos"),
    )
    return starts.select(
        "doc_id",
        "chunk_idx",
        F.least(F.lit(20), F.size("ws") - F.col("start_pos") + 1).alias(
            "n_chunk_words"
        ),
        F.array_join(F.slice("ws", F.col("start_pos"), 20), " ").alias("chunk_text"),
    )


@register(
    "dedup_boilerplate_ngrams",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, greatest(0, len(ws) - 7)),
               i -> array_to_string(ws[i : i + 7], ' ')
             )) AS shingle
      FROM w
    )
    SELECT shingle, count(DISTINCT doc_id) AS n_docs
    FROM sh
    GROUP BY shingle
    HAVING count(DISTINCT doc_id) >= 3
    """,
    doc="Cross-document boilerplate detection: 8-word shingles appearing "
    "in >= 3 distinct documents (headers/footers/licenses in a real "
    "corpus). Shingling reuses functions.word_shingles (materialized "
    "array column, codegen HOF); the count(DISTINCT doc_id) shuffles on "
    "shingle with map-side partial distinct. At 100 TB, hash the shingle "
    "to a 64-bit key first so shuffle rows are fixed-width (the string "
    "is only needed for reporting, re-joinable by hash).",
)
def dedup_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    w = docs.select("doc_id", words("text").alias("ws"))
    sh = w.select(
        "doc_id", F.explode(word_shingles(F.col("ws"), 8)).alias("shingle")
    )
    return (
        sh.groupBy("shingle")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 3)
    )


_SQL_W = "string_split(text, ' ')"
_SQL_WLEN_SUM = (
    "list_reduce(list_prepend(0, list_transform("
    + _SQL_W
    + ", t -> length(t))), (a, x) -> a + x)"
)


@register(
    "text_gopher_filter",
    oracle=f"""
    WITH sig AS (
      SELECT doc_id,
             len({_SQL_W}) AS n_words,
             {_SQL_WLEN_SUM}::DOUBLE / len({_SQL_W})::DOUBLE AS mean_word_len,
             len(list_filter({_SQL_W}, t -> t = 'the' OR t = 'a')) AS stop_hits,
             len(list_distinct({_SQL_W}))::DOUBLE / len({_SQL_W})::DOUBLE
               AS frac_unique
      FROM documents
    )
    SELECT doc_id, n_words,
           round(mean_word_len, 4) AS mean_word_len,
           stop_hits,
           round(frac_unique, 4) AS frac_unique,
           (n_words BETWEEN 50 AND 100000) AS rule_word_count,
           (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS rule_word_len,
           (stop_hits >= 2) AS rule_stopwords,
           (frac_unique >= 0.3) AS rule_unique,
           ((n_words BETWEEN 50 AND 100000)
             AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
             AND stop_hits >= 2 AND frac_unique >= 0.3) AS keep
    FROM sig
    """,
    doc="Gopher-style quality gate (Rae et al. 2021, public heuristics): "
    "word-count bounds, mean-word-length bounds, minimum stopword hits, "
    "minimum unique-word fraction — each rule emitted as its own flag "
    "plus the conjunction `keep`. All signals are single-pass per-row "
    "array folds over the tokenized text (no explode, no shuffle at "
    "all): the gate runs at scan speed and at 100 TB it is the cheap "
    "first stage that shrinks the corpus before any shuffling operator "
    "(dedup, TF-IDF) touches it. Symbol/ellipsis ratio rules are "
    "omitted: the synthetic corpus has no punctuation, so they would "
    "be constant-true (documented, not silently dropped).",
)
def text_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    ws = words("text")
    wlen_sum = F.aggregate(
        F.transform(ws, lambda t: F.length(t)),
        F.lit(0),
        lambda a, x: a + x,
    )
    sig = docs.select(
        "doc_id",
        F.size(ws).alias("n_words"),
        (wlen_sum.cast("double") / F.size(ws).cast("double")).alias("mean_word_len"),
        F.size(F.filter(ws, lambda t: (t == "the") | (t == "a"))).alias("stop_hits"),
        (
            F.size(F.array_distinct(ws)).cast("double") / F.size(ws).cast("double")
        ).alias("frac_unique"),
    )
    rule_wc = F.col("n_words").between(50, 100000)
    rule_wl = (F.col("mean_word_len") >= 3.0) & (F.col("mean_word_len") <= 10.0)
    rule_sw = F.col("stop_hits") >= 2
    rule_uq = F.col("frac_unique") >= 0.3
    return sig.select(
        "doc_id",
        "n_words",
        F.round("mean_word_len", 4).alias("mean_word_len"),
        "stop_hits",
        F.round("frac_unique", 4).alias("frac_unique"),
        rule_wc.alias("rule_word_count"),
        rule_wl.alias("rule_word_len"),
        rule_sw.alias("rule_stopwords"),
        rule_uq.alias("rule_unique"),
        (rule_wc & rule_wl & rule_sw & rule_uq).alias("keep"),
    )


@register(
    "text_unigram_entropy",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_W}) AS word FROM documents
    ), freq AS (
      SELECT doc_id, word, count(*) AS n FROM tok GROUP BY doc_id, word
    )
    SELECT doc_id,
           CAST(sum(n) AS BIGINT) AS n_words,
           count(*) AS vocab,
           round(log2(sum(n)) - sum(n * log2(n)) / sum(n), 6) AS entropy_bits
    FROM freq GROUP BY doc_id
    """,
    doc="Per-document unigram Shannon entropy (token-diversity quality "
    "signal; low entropy = repetitive/templated text, a standard "
    "pre-training filter alongside the Gopher rules). Computed as "
    "H = log2(N) - sum(n*log2(n))/N from exact integer counts, so both "
    "engines evaluate the identical float expression. Explode + "
    "two-level map-side-combinable aggregation — same scale shape as "
    "text_repetition_signals; at 100 TB the (doc_id, word) partial "
    "aggregate dominates and is shuffle-key-balanced because doc_id "
    "leads the key.",
)
def text_unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    tok = docs.select("doc_id", F.explode(words("text")).alias("word"))
    freq = tok.groupBy("doc_id", "word").agg(F.count("*").alias("n"))
    return freq.groupBy("doc_id").agg(
        F.sum("n").alias("n_words"),
        F.count("*").alias("vocab"),
        F.round(
            F.log2(F.sum("n")) - F.sum(F.col("n") * F.log2("n")) / F.sum("n"), 6
        ).alias("entropy_bits"),
    )


@register(
    "corpus_dup_rate_by_source",
    oracle="""
    SELECT source,
           count(*) AS n_docs,
           count(DISTINCT md5(text)) AS n_unique,
           round(1.0 - count(DISTINCT md5(text)) * 1.0 / count(*), 4)
             AS dup_frac
    FROM documents
    GROUP BY source
    """,
    doc="Per-source exact-duplication audit: which ingest source "
    "contributes redundant documents (the first question asked of any "
    "new crawl snapshot). Shuffles the 16-byte md5 digest, never the "
    "document body — the same digest-first discipline as dedup_exact — "
    "and the count(DISTINCT digest) runs with map-side partial "
    "distinct per source. Output is one row per source: a safe "
    "full-corpus aggregate at any scale.",
)
def corpus_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct(F.md5("text")).alias("n_unique"),
        F.round(
            1.0 - F.count_distinct(F.md5("text")) * 1.0 / F.count("*"), 4
        ).alias("dup_frac"),
    )


@register(
    "corpus_zipf_fit",
    oracle="""
    WITH freqs AS (
      SELECT word, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      GROUP BY word
    ), ranked AS (
      SELECT cnt, row_number() OVER (ORDER BY cnt DESC, word) AS rnk
      FROM freqs
    ), pts AS (
      SELECT CAST(round(ln(rnk::DOUBLE) * 1000000) AS BIGINT) AS x_i,
             CAST(round(ln(cnt::DOUBLE) * 1000000) AS BIGINT) AS y_i
      FROM ranked WHERE rnk <= 200
    ), sums AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x_i) AS BIGINT) AS sx,
             CAST(sum(y_i) AS BIGINT) AS sy,
             CAST(sum(x_i * y_i) AS BIGINT) AS sxy,
             CAST(sum(x_i * x_i) AS BIGINT) AS sxx
      FROM pts
    )
    SELECT n AS n_points,
           round((n * sxy - sx * sy)::DOUBLE
                 / (n * sxx - sx * sx)::DOUBLE, 4) AS zipf_slope,
           round((sy::DOUBLE / 1000000.0
                  - ((n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE)
                    * (sx::DOUBLE / 1000000.0)) / n::DOUBLE, 4) AS ln_c
    FROM sums
    """,
    doc="Zipf's-law fit over the corpus word-frequency distribution: "
    "closed-form least squares of ln(freq) on ln(rank) over the top "
    "200 words — slope near -1 is the healthy-natural-text signature; "
    "flat slopes flag template/boilerplate corpora and steep ones tiny "
    "vocabularies.  The rank window sorts the DICTIONARY (vocab-sized, "
    "corpus-size-independent — the only single-partition sort in the "
    "engine and it is dictionary-bounded by construction); regression "
    "terms are rounded to integer micro-units per point before "
    "summing, so the fit is independent of summation order.",
)
def corpus_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    freqs = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    ranked = freqs.withColumn(
        "rnk", F.row_number().over(Window.orderBy(F.col("cnt").desc(), "word"))
    ).filter(F.col("rnk") <= 200)
    pts = ranked.select(
        F.round(F.log(F.col("rnk").cast("double")) * 1_000_000)
        .cast("bigint")
        .alias("x_i"),
        F.round(F.log(F.col("cnt").cast("double")) * 1_000_000)
        .cast("bigint")
        .alias("y_i"),
    )
    sums = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x_i").cast("bigint").alias("sx"),
        F.sum("y_i").cast("bigint").alias("sy"),
        F.sum(F.col("x_i") * F.col("y_i")).cast("bigint").alias("sxy"),
        F.sum(F.col("x_i") * F.col("x_i")).cast("bigint").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    ) / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return sums.select(
        F.col("n").alias("n_points"),
        F.round(slope, 4).alias("zipf_slope"),
        F.round(
            (
                F.col("sy").cast("double") / 1e6
                - slope * (F.col("sx").cast("double") / 1e6)
            )
            / F.col("n").cast("double"),
            4,
        ).alias("ln_c"),
    )


from .training_queries import _SQL_SCORE_I as _SQL_TRAIN_SCORE_I  # noqa: E402


@register(
    "corpus_quality_vs_dup",
    oracle=f"""
    WITH scored AS (
      SELECT text,
             least(({_SQL_TRAIN_SCORE_I}) // 100000, 9) AS band
      FROM documents
    )
    SELECT band,
           count(*) AS n_docs,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique,
           round(1.0 - count(DISTINCT md5(text))::DOUBLE / count(*)::DOUBLE, 4)
             AS dup_frac
    FROM scored
    GROUP BY band
    """,
    doc="Quality-band vs duplication-rate correlation: documents bucket "
    "into 10 fixed quality bands (per-row threshold on the blended "
    "quality score — no global percentile pass) and each band reports "
    "its exact-duplicate fraction (digest-distinct, md5 shuffled — "
    "never text).  The question every curation pipeline asks before "
    "setting a quality cutoff: are the low-quality bands also the "
    "duplicated ones (crawler spam) or independent axes?",
)
def corpus_quality_vs_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .training_queries import _score_i

    docs = _docs(spark, sf_dir)
    scored = docs.select("text", _score_i().alias("score_i")).select(
        "text",
        F.least(F.expr("score_i div 100000"), F.lit(9)).cast("bigint").alias("band"),
    )
    return scored.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.md5("text")).cast("bigint").alias("n_unique"),
        F.round(
            1.0
            - F.count_distinct(F.md5("text")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            4,
        ).alias("dup_frac"),
    )


@register(
    "curation_ablation_curve",
    oracle=f"""
    WITH scored AS (
      SELECT least(({_SQL_TRAIN_SCORE_I}) // 100000, 9) AS band,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ), per_band AS (
      SELECT band,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS n_tokens
      FROM scored GROUP BY band
    )
    SELECT band,
           CAST(sum(n_docs) OVER w AS BIGINT) AS cum_docs,
           CAST(sum(n_tokens) OVER w AS BIGINT) AS cum_tokens,
           CAST((100 * sum(n_tokens) OVER w)
                // (sum(n_tokens) OVER ()) AS BIGINT) AS retained_pct
    FROM per_band
    WINDOW w AS (ORDER BY band DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    doc="Quality-threshold ablation curve in ONE scan: documents bucket "
    "into 10 fixed quality bands, and for every candidate cutoff "
    "'keep bands >= b' the curve reports surviving docs, surviving "
    "tokens, and the integer retained-token percentage — the table a "
    "curation planner reads to pick the cutoff that hits a token "
    "budget, without re-running the pipeline once per threshold.  "
    "Plan: one scan + one 10-row aggregate; the cumulative window "
    "runs over the dictionary-bounded band table (single partition "
    "over <=10 rows — same audited pattern as corpus_zipf_fit), so "
    "the 100 TB cost is the scan, full stop.",
)
def curation_ablation_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions import words
    from .training_queries import _score_i

    docs = _docs(spark, sf_dir)
    # _score_i depends on `text`; compute it in a prior projection
    scored = docs.select(
        _score_i().alias("score_i"),
        F.size(words(F.col("text"))).cast("bigint").alias("n_tokens"),
    ).select(
        F.least(F.expr("score_i div 100000"), F.lit(9)).cast("bigint").alias("band"),
        "n_tokens",
    )
    per_band = scored.groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.orderBy(F.col("band").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per_band.select(
        "band",
        F.sum("n_docs").over(w).cast("bigint").alias("cum_docs"),
        F.sum("n_tokens").over(w).cast("bigint").alias("cum_tokens"),
        F.floor(
            (100 * F.sum("n_tokens").over(w)) / F.sum("n_tokens").over(wt)
        )
        .cast("bigint")
        .alias("retained_pct"),
    )


@register(
    "curation_dataset_card",
    oracle=f"""
    WITH per_doc AS (
      SELECT md5(text) AS digest, lang, source,
             len(string_split(text, ' ')) AS n_tokens,
             {_SQL_TRAIN_SCORE_I} AS score_i
      FROM documents
    ), top_lang AS (
      SELECT lang FROM per_doc GROUP BY lang
      ORDER BY count(*) DESC, lang ASC LIMIT 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT digest) AS BIGINT) AS n_unique_docs,
           CAST((100 * (count(*) - count(DISTINCT digest))) // count(*)
                AS BIGINT) AS dup_rate_pct,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           (SELECT lang FROM top_lang) AS top_lang,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(sum(score_i) // count(*) AS BIGINT) AS mean_quality_millionths
    FROM per_doc
    """,
    doc="The dataset card in one pass: corpus size (docs/tokens), exact "
    "duplication rate (digest-distinct, integer percent), language "
    "inventory with a DETERMINISTIC top language (count DESC, lang ASC "
    "tie-break), source fan-in, and mean quality in exact integer "
    "millionths (sum DIV count — no float mean) — the summary block "
    "every released training dataset publishes, computed from one "
    "documents scan plus a dictionary-sized language rollup.  Every "
    "number is integer-exact, so the card is reproducible bit-for-bit "
    "across engines and runs — which is the point of a dataset card.",
)
def curation_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import words
    from .training_queries import _score_i

    docs = _docs(spark, sf_dir)
    per_doc = docs.select(
        F.md5("text").alias("digest"),
        "lang",
        "source",
        F.size(words(F.col("text"))).cast("bigint").alias("n_tokens"),
        _score_i().alias("score_i"),
    )
    top_lang = (
        per_doc.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("lang").asc())
        .limit(1)
        .select(F.col("lang").alias("top_lang"))
    )
    card = per_doc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.countDistinct("digest").cast("bigint").alias("n_unique_docs"),
        F.floor(
            (100 * (F.count(F.lit(1)) - F.countDistinct("digest")))
            / F.count(F.lit(1))
        )
        .cast("bigint")
        .alias("dup_rate_pct"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.expr("sum(score_i) DIV count(1)")
        .cast("bigint")
        .alias("mean_quality_millionths"),
    )
    return card.crossJoin(F.broadcast(top_lang)).select(
        "n_docs",
        "n_tokens",
        "n_unique_docs",
        "dup_rate_pct",
        "n_langs",
        "top_lang",
        "n_sources",
        "mean_quality_millionths",
    )


@register(
    "corpus_source_jsd",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
    ), cw AS (
      SELECT source, word, count(*)::BIGINT AS c FROM tok GROUP BY source, word
    ), tot AS (
      SELECT source, sum(c)::BIGINT AS t FROM cw GROUP BY source
    ), d AS (
      SELECT cw.source, word, cw.c::DOUBLE / tot.t::DOUBLE AS p
      FROM cw JOIN tot USING (source)
    ), pairs AS (
      SELECT a.source AS s1, b.source AS s2
      FROM (SELECT DISTINCT source FROM d) a
      JOIN (SELECT DISTINCT source FROM d) b ON a.source < b.source
    ), a_terms AS (
      SELECT pr.s1, pr.s2,
             CAST(round(1000000 * d1.p
                        * log2(2.0 * d1.p / (d1.p + coalesce(d2.p, 0.0))))
                  AS BIGINT)
             + CASE WHEN d2.p IS NOT NULL
                    THEN CAST(round(1000000 * d2.p
                                    * log2(2.0 * d2.p / (d1.p + d2.p)))
                              AS BIGINT)
                    ELSE 0 END AS mb,
             (d2.p IS NOT NULL) AS shared
      FROM pairs pr
      JOIN d d1 ON d1.source = pr.s1
      LEFT JOIN d d2 ON d2.source = pr.s2 AND d2.word = d1.word
    ), b_terms AS (
      SELECT pr.s1, pr.s2,
             CAST(round(1000000 * d2.p) AS BIGINT) AS mb,
             FALSE AS shared
      FROM pairs pr
      JOIN d d2 ON d2.source = pr.s2
      WHERE NOT EXISTS (
        SELECT 1 FROM d d1 WHERE d1.source = pr.s1 AND d1.word = d2.word
      )
    )
    SELECT s1, s2,
           count(*)::BIGINT AS n_words_union,
           sum(CASE WHEN shared THEN 1 ELSE 0 END)::BIGINT AS n_shared,
           sum(mb)::BIGINT AS jsd_microbits,
           sum(mb)::DOUBLE / 2000000.0 AS jsd_bits
    FROM (SELECT * FROM a_terms UNION ALL SELECT * FROM b_terms)
    GROUP BY s1, s2
    """,
    doc="Pairwise Jensen-Shannon divergence (in bits) between per-source "
    "unigram distributions — the data-mixing diagnostic that tells a "
    "corpus curator which sources are near-duplicates of each other in "
    "token space (JSD ~ 0) and which add genuinely new mass (JSD ~ 1), "
    "the input to mixture reweighting beside corpus_mixture_weights.  "
    "JSD(p,q) = sum_w [p ln2(2p/(p+q)) + q ln2(2q/(p+q))] / 2 over the "
    "vocab union; each word's two terms are scaled to exact integer "
    "micro-bits BEFORE the per-pair sum (the text_unigram_logprob "
    "discipline), so the aggregate is summation-order independent and "
    "libm ulp drift between engines is absorbed by the rounding.  "
    "Shape: ONE tokenize+count shuffle (the TF-IDF shape), then "
    "everything is vocab-bounded: the per-source distribution joins "
    "the broadcast 190-row pair table, so pair-stage mass is "
    "n_pairs x |vocab| rows regardless of corpus size.  100 TB: the "
    "corpus is tokenized once; source count (not document count) "
    "drives the quadratic term, and that is dimension-sized.",
)
def corpus_source_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .lineage import truncate_lineage

    docs = _docs(spark, sf_dir)
    tok = docs.select("source", F.explode(words("text")).alias("word"))
    cw = tok.groupBy("source", "word").agg(F.count("*").cast("long").alias("c"))
    tot = cw.groupBy("source").agg(F.sum("c").cast("long").alias("t"))
    # The distribution table is referenced SIX times downstream (d1/d2
    # in the inner-coverage join, d2/d1 in the right-only anti branch,
    # and the source list twice for the pair table); the static plan
    # shows the tokenize+count subtree — the only corpus-sized work in
    # the query — 16 times.  Measured at sf10 the cut is RUNTIME-NEUTRAL
    # on this box (AQE ReusedExchange dedupes the identical shuffle
    # subtrees: 6.3s vs 6.4s warm, interleaved runs); it is kept anyway
    # because broadcast-side references are not guaranteed reusable
    # across planner versions, and materializing the vocab-bounded
    # (source, word, p) table makes the tokenize-once guarantee
    # structural rather than an AQE artifact.
    d = truncate_lineage(
        cw.join(tot, "source").select(
            "source",
            "word",
            (F.col("c").cast("double") / F.col("t").cast("double")).alias("p"),
        ),
    )
    srcs = d.select("source").distinct()
    pairs = (
        srcs.alias("a")
        .join(srcs.alias("b"), F.col("a.source") < F.col("b.source"))
        .select(F.col("a.source").alias("s1"), F.col("b.source").alias("s2"))
    )
    d1 = d.select(
        F.col("source").alias("s1"), "word", F.col("p").alias("p1")
    )
    d2 = d.select(
        F.col("source").alias("s2"), "word", F.col("p").alias("p2")
    )

    def _micro(p_, q_):
        return F.round(
            F.lit(1_000_000) * p_ * F.log2(F.lit(2.0) * p_ / (p_ + q_))
        ).cast("long")

    a = F.broadcast(pairs).join(d1, "s1").join(d2, ["s2", "word"], "left")
    a_terms = a.select(
        "s1",
        "s2",
        (
            _micro(F.col("p1"), F.coalesce(F.col("p2"), F.lit(0.0)))
            + F.when(
                F.col("p2").isNotNull(), _micro(F.col("p2"), F.col("p1"))
            ).otherwise(F.lit(0).cast("long"))
        ).alias("mb"),
        F.col("p2").isNotNull().alias("shared"),
    )
    b_terms = (
        F.broadcast(pairs)
        .join(d2, "s2")
        .join(d1.select("s1", "word"), ["s1", "word"], "left_anti")
        .select(
            "s1",
            "s2",
            F.round(F.lit(1_000_000) * F.col("p2")).cast("long").alias("mb"),
            F.lit(False).alias("shared"),
        )
    )
    return (
        a_terms.unionByName(b_terms)
        .groupBy("s1", "s2")
        .agg(
            F.count("*").cast("long").alias("n_words_union"),
            F.sum(F.col("shared").cast("int")).cast("long").alias("n_shared"),
            F.sum("mb").cast("long").alias("jsd_microbits"),
            # NOT rounded: an odd micro-bit sum sits EXACTLY on the 7th
            # decimal half (sum/2e6 = x.xxxxxx5), where Spark's
            # decimal-string HALF_UP and DuckDB's binary-double round()
            # disagree — found at sf0.01 on ~half of all pairs.  The raw
            # quotient of the identical integer sum is the same binary
            # double on both engines, so it hashes identically.
            (F.sum("mb").cast("double") / 2_000_000.0).alias("jsd_bits"),
        )
    )


# ---- DSIR: data selection via importance resampling -------------------

_DSIR_B = 256  # hashed feature buckets (the DSIR bag-of-hashed-ngrams)
_DSIR_TARGET = "src0"  # the target-distribution source
_DSIR_TOPK = 5  # selected docs per raw source (deterministic variant)


@register(
    "corpus_dsir_selection",
    oracle=f"""
    WITH tokw AS (
      SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
      FROM documents
    ), vocab AS (
      SELECT w, {SQL_MD5_LONG.format(x='w')} % {_DSIR_B} AS b
      FROM (SELECT DISTINCT w FROM tokw)
    ), tok AS (
      SELECT t.doc_id, t.source, v.b FROM tokw t JOIN vocab v USING (w)
    ), counts AS (
      SELECT b,
             sum(CASE WHEN source = '{_DSIR_TARGET}' THEN 1 ELSE 0 END) AS ct,
             sum(CASE WHEN source != '{_DSIR_TARGET}' THEN 1 ELSE 0 END) AS cr
      FROM tok GROUP BY b
    ), spine AS (
      SELECT t.b, coalesce(c.ct, 0) AS ct, coalesce(c.cr, 0) AS cr
      FROM range(0, {_DSIR_B}) t(b) LEFT JOIN counts c ON c.b = t.b
    ), tot AS (
      SELECT sum(ct) AS tt, sum(cr) AS tr FROM spine
    ), weights AS (
      SELECT b,
             CAST(round(ln(((ct + 1) * (tr + {_DSIR_B}))::DOUBLE
                           / ((cr + 1) * (tt + {_DSIR_B}))::DOUBLE)
                        * 1000000) AS BIGINT) AS w
      FROM spine CROSS JOIN tot
    ), perdoc AS (
      SELECT t.doc_id, t.source, CAST(sum(w.w) AS BIGINT) AS imp_micro
      FROM tok t JOIN weights w ON w.b = t.b
      WHERE t.source != '{_DSIR_TARGET}'
      GROUP BY t.doc_id, t.source
    )
    SELECT source, doc_id, imp_micro, sel_rank FROM (
      SELECT source, doc_id, imp_micro,
             row_number() OVER (
               PARTITION BY source ORDER BY imp_micro DESC, doc_id
             ) AS sel_rank
      FROM perdoc
    ) WHERE sel_rank <= {_DSIR_TOPK}
    """,
    doc="DSIR data selection (Xie et al. 2023, 'Data Selection for "
    "Language Models via Importance Resampling'): hashed-unigram bag "
    f"models (md5 % {_DSIR_B} feature buckets) fitted to the target "
    f"source '{_DSIR_TARGET}' and to the raw pool, add-one smoothed; "
    "each raw document's importance = sum over its tokens of "
    "log(p_target(bucket)/p_raw(bucket)), carried as exact integer "
    "micro-nats per BUCKET weight so the per-doc sum is independent "
    "of summation order.  Selection is the deterministic variant: top-"
    f"{_DSIR_TOPK} docs per raw source by (importance, doc_id) — a "
    "LITERAL k, so Catalyst pushes WindowGroupLimit below the shuffle "
    "and no task forwards more than k rows per source.  The single "
    "log per bucket takes a ratio of exact integer products (avoids "
    "two libm calls and their boundary drift).  100 TB: the model is "
    f"{_DSIR_B} rows (broadcast); tokens explode inside the scan "
    "stage; the only shuffles are the bucket-count agg, the per-doc "
    "agg, and the group-limited rank — the canonical DSIR pass.",
)
def corpus_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .lineage import truncate_lineage

    docs = _docs(spark, sf_dir).select("doc_id", "source", "text")
    tokw = docs.select(
        "doc_id",
        "source",
        F.explode(words(F.col("text"))).alias("w"),
    )
    # Hash the VOCABULARY, not the token stream: the corpus has ~10k
    # distinct words against 27M tokens at sf10 (Heaps' law — vocab is
    # always orders of magnitude below token count), and the md5 fold
    # is the dominant per-token cost (measured: two md5-token passes =
    # 77-100s at sf10; vocab hashing + broadcast join = ~30s).  The
    # vocab is lineage-cut (1 tiny materialization) so the two
    # broadcast builds don't each re-run the distinct.  At an extreme
    # vocab (>~100M words) the broadcast stops fitting and per-token
    # hashing becomes the right plan again — that threshold is a
    # deployment knob, not a correctness issue (values are identical).
    vocab = truncate_lineage(
        tokw.select("w")
        .distinct()
        .select("w", (md5_long(F.col("w")) % _DSIR_B).alias("b")),
        eager=False,
    )
    tok = tokw.join(F.broadcast(vocab), "w").select("doc_id", "source", "b")
    is_t = F.col("source") == _DSIR_TARGET
    counts = tok.groupBy("b").agg(
        F.sum(F.when(is_t, 1).otherwise(0)).alias("ct"),
        F.sum(F.when(~is_t, 1).otherwise(0)).alias("cr"),
    )
    # Lineage cut on the 256-row model: `weights` references the spine
    # under BOTH its own projection and the totals cross-join, and each
    # static re-derivation re-runs a full token pass (measured: THREE
    # tok passes before the cut).  Cutting costs a 256-row
    # materialization and leaves exactly the two inherent corpus
    # passes (model fit + per-doc scoring).
    counts = truncate_lineage(counts, eager=False)
    spine = (
        spark.range(_DSIR_B)
        .select(F.col("id").alias("b"))
        .join(counts, "b", "left")
        .select(
            "b",
            F.coalesce("ct", F.lit(0)).alias("ct"),
            F.coalesce("cr", F.lit(0)).alias("cr"),
        )
    )
    tot = spine.agg(
        F.sum("ct").alias("tt"), F.sum("cr").alias("tr")
    )
    weights = spine.crossJoin(F.broadcast(tot)).select(
        "b",
        F.round(
            F.log(
                ((F.col("ct") + 1) * (F.col("tr") + _DSIR_B)).cast("double")
                / ((F.col("cr") + 1) * (F.col("tt") + _DSIR_B)).cast("double")
            )
            * 1_000_000
        )
        .cast("bigint")
        .alias("w"),
    )
    perdoc = (
        tok.filter(~is_t)
        .join(F.broadcast(weights), "b")
        .groupBy("doc_id", "source")
        .agg(F.sum("w").cast("bigint").alias("imp_micro"))
    )
    wr = Window.partitionBy("source").orderBy(
        F.col("imp_micro").desc(), F.col("doc_id").asc()
    )
    return (
        perdoc.withColumn("sel_rank", F.row_number().over(wr))
        .filter(F.col("sel_rank") <= _DSIR_TOPK)
        .select("source", "doc_id", "imp_micro", "sel_rank")
    )


@register(
    "corpus_distinct_ngrams",
    oracle=f"""
    WITH grams AS (
      SELECT source, 1 AS n, unnest(string_split(text, ' ')) AS g
      FROM documents
      UNION ALL
      SELECT source, 2 AS n,
             unnest({sql_word_shingles("string_split(text, ' ')", 2)}) AS g
      FROM documents
      UNION ALL
      SELECT source, 3 AS n,
             unnest({sql_word_shingles("string_split(text, ' ')", 3)}) AS g
      FROM documents
    )
    SELECT source, n,
           count(*) AS n_grams,
           count(DISTINCT g) AS n_distinct,
           round(count(DISTINCT g) / count(*), 6) AS distinct_ratio
    FROM grams GROUP BY source, n
    """,
    doc="Distinct-n corpus diversity (the distinct-1/2/3 metrics of Li "
    "et al. 2016 / Zhu et al. 2018, standard for detecting low-"
    "diversity or templated generations in a training corpus): per "
    "source and n-gram order 1..3, the ratio of distinct n-grams to "
    "total n-grams.  Exact distinct (not a sketch) so the metric is "
    "reproducible; the three explode passes pipeline inside the scan "
    "stage and the count-distinct aggregates partially map-side on "
    "(source, n, gram) before the final (source, n) rollup.  100 TB: "
    "the shuffle carries one row per DISTINCT (source, n, gram) after "
    "partial aggregation — vocabulary-bounded by Heaps' law, never "
    "token-count-bounded; the output is 3 rows per source.",
)
def corpus_distinct_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("source", "text")
    parts = []
    for n in (1, 2, 3):
        grams = (
            words(F.col("text"))
            if n == 1
            else word_shingles(words(F.col("text")), n)
        )
        parts.append(
            docs.select(
                "source", F.lit(n).alias("n"), F.explode(grams).alias("g")
            )
        )
    all_grams = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return all_grams.groupBy("source", "n").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count_distinct(F.col("g")).alias("n_distinct"),
        F.round(F.count_distinct(F.col("g")) / F.count(F.lit(1)), 6).alias(
            "distinct_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# Bloom-filter corpus membership (incremental-ingest dedup gate)
# ---------------------------------------------------------------------------
# k salted 60-bit md5 hashes per document, modulo an ADAPTIVE power-of-two
# bit width m: the smallest p in [13, 30] with 32*n_existing <= 2^p, derived
# by the same pure-integer comparison on both engines (the float-free rule
# _knn_planes / SemDeDup's B use — a ceil(log2) could straddle the boundary
# between engines by 1 ulp at n = 2^j / 32).  32 bits/doc at k=4 gives a
# false-positive rate of ~(1 - e^-(4/32))^4 ~ 0.02% and stays there at any
# corpus size because m scales with n.
_BLOOM_K = 4
_BLOOM_BITS_PER_DOC = 32
_BLOOM_P_LO, _BLOOM_P_HI = 13, 30


def _sql_bloom_pos(src: str, id_expr: str, id_alias: str) -> str:
    """4-way UNION of salted-hash bit positions for one side."""
    rows = "\n      UNION ALL\n".join(
        f"      SELECT {id_expr} AS {id_alias}, "
        f"({SQL_MD5_LONG.format(x=f'''text || ':{i}' ''')}"
        f" % (SELECT m FROM mp)) AS pos FROM {src}"
        for i in range(_BLOOM_K)
    )
    return rows


@register(
    "sketch_bloom_membership",
    oracle=f"""
    WITH existing AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 5 != 0
    ), probes AS (
      SELECT doc_id AS probe_id, text FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 1000000000 AS probe_id, text FROM documents
      WHERE doc_id % 5 != 0 AND doc_id % 7 = 0
    ), mp AS (
      SELECT (1::BIGINT << LEAST({_BLOOM_P_HI}, MIN(t.p))) AS m
      FROM (SELECT count(*) AS n FROM existing) c,
           range({_BLOOM_P_LO}, {_BLOOM_P_HI + 1}) t(p)
      WHERE c.n * {_BLOOM_BITS_PER_DOC} <= (1::BIGINT << t.p)
         OR t.p = {_BLOOM_P_HI}
    ), ebits AS (
      SELECT DISTINCT pos FROM (
{_sql_bloom_pos("existing", "doc_id", "doc_id")}
      )
    ), ppos AS (
      SELECT DISTINCT probe_id, pos FROM (
{_sql_bloom_pos("probes", "probe_id", "probe_id")}
      )
    ), verdicts AS (
      SELECT pp.probe_id, (count(*) = count(eb.pos)) AS bloom_hit
      FROM ppos pp LEFT JOIN ebits eb ON pp.pos = eb.pos
      GROUP BY pp.probe_id
    ), ekeys AS (
      SELECT DISTINCT {SQL_MD5_LONG.format(x="text")} AS tkey FROM existing
    ), member AS (
      SELECT p.probe_id, (e.tkey IS NOT NULL) AS true_member
      FROM (SELECT probe_id, {SQL_MD5_LONG.format(x="text")} AS tkey
            FROM probes) p
      LEFT JOIN ekeys e ON p.tkey = e.tkey
    )
    SELECT v.bloom_hit::VARCHAR AS bloom_hit,
           m.true_member::VARCHAR AS true_member,
           count(*)::BIGINT AS n_docs
    FROM verdicts v JOIN member m USING (probe_id)
    GROUP BY 1, 2
    """,
    doc="Bloom-filter corpus membership — the incremental-ingest gate "
    "(Broder & Mitzenmacher 2004): an arriving batch is tested against "
    "a Bloom sketch of the EXISTING corpus before any expensive dedup "
    "runs.  Existing = doc_id%5!=0; probes = the held-out docs plus "
    "re-keyed copies of existing docs (planted TRUE members, so both "
    "verdict classes are exercised at every scale).  k=4 salted 60-bit "
    "md5 hashes mod an adaptive power-of-two width m (smallest 2^p >= "
    "32*n, pure-integer rule in both engines), so the false-positive "
    "rate stays ~0.02% at any corpus size.  Output: docs grouped by "
    "(bloom_hit, true_member) — the (false, true) cell is structurally "
    "IMPOSSIBLE (a Bloom filter has no false negatives), and its "
    "absence is asserted by tests/test_bloom.py.  Plan: the filter is "
    "a DISTINCT over k*n slim longs (partial agg map-side), the probe "
    "a slim equi-join on bit position, and the exact-membership "
    "baseline joins 8-byte content hashes — full text never rides a "
    "shuffle.  At 100 TB the bit set is a shared sketch built once "
    "(here: an aggregate the size of <= k*n distinct longs; in a "
    "deployment: OR-merged fixed-size bitmaps per partition), and the "
    "probe side streams against it — the same one-build/many-probe "
    "shape as the session-scoped SRP index.",
)
def sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    existing = docs.filter(F.col("doc_id") % 5 != 0).select("doc_id", "text")
    probes = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .select(F.col("doc_id").alias("probe_id"), "text")
        .unionByName(
            docs.filter(
                (F.col("doc_id") % 5 != 0) & (F.col("doc_id") % 7 == 0)
            ).select((F.col("doc_id") + 1_000_000_000).alias("probe_id"), "text")
        )
    )
    # smallest p in [13, 30] with 32*n <= 2^p == 13 + the count of integer
    # thresholds 2^j (j in [13, 30)) that 32*n strictly exceeds.
    mdf = existing.agg(F.count(F.lit(1)).alias("n")).select(
        sum(
            (
                (F.col("n") * _BLOOM_BITS_PER_DOC > F.lit(1 << j)).cast("int")
                for j in range(_BLOOM_P_LO, _BLOOM_P_HI)
            ),
            F.lit(_BLOOM_P_LO),
        ).alias("p")
    ).select(F.expr("shiftleft(CAST(1 AS BIGINT), p)").alias("m"))

    def _pos(df: DataFrame, id_col: str) -> DataFrame:
        return (
            df.crossJoin(F.broadcast(mdf))
            .select(
                id_col,
                F.explode(
                    F.array(
                        *[
                            md5_long(F.concat(F.col("text"), F.lit(f":{i}")))
                            % F.col("m")
                            for i in range(_BLOOM_K)
                        ]
                    )
                ).alias("pos"),
            )
            .distinct()
        )

    ebits = _pos(existing, "doc_id").select("pos").distinct()
    ppos = _pos(probes, "probe_id")
    verdicts = (
        ppos.join(ebits.withColumn("hit", F.lit(1)), "pos", "left")
        .groupBy("probe_id")
        .agg((F.count(F.lit(1)) == F.count("hit")).alias("bloom_hit"))
    )
    ekeys = existing.select(md5_long(F.col("text")).alias("tkey")).distinct()
    member = (
        probes.select("probe_id", md5_long(F.col("text")).alias("tkey"))
        .join(ekeys.withColumn("mem", F.lit(1)), "tkey", "left")
        .select("probe_id", F.col("mem").isNotNull().alias("true_member"))
    )
    return (
        verdicts.join(member, "probe_id")
        .groupBy(
            F.col("bloom_hit").cast("string").alias("bloom_hit"),
            F.col("true_member").cast("string").alias("true_member"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# RAG-style chunking: overlapping word windows
# ---------------------------------------------------------------------------
_CHUNK_SIZE = 32
_CHUNK_STRIDE = 24


@register(
    "corpus_chunk_windows",
    oracle=f"""
    WITH perdoc AS (
      SELECT doc_id,
             string_split(text, ' ') AS w,
             len(string_split(text, ' ')) AS dl
      FROM documents
    ), chunked AS (
      SELECT doc_id, dl,
             CASE WHEN dl <= {_CHUNK_SIZE} THEN 1
                  ELSE (dl - {_CHUNK_SIZE} + {_CHUNK_STRIDE} - 1)
                       // {_CHUNK_STRIDE} + 1 END AS n_chunks,
             w
      FROM perdoc
    )
    SELECT doc_id,
           CAST(n_chunks AS BIGINT) AS n_chunks,
           CAST(list_sum(list_transform(range(0, n_chunks::INT),
             i -> least(dl - i * {_CHUNK_STRIDE}, {_CHUNK_SIZE})))
             AS BIGINT) AS chunk_words,
           CAST(list_sum(list_transform(range(0, n_chunks::INT),
             i -> ('0x' || substr(md5(doc_id::VARCHAR || ':' || i::VARCHAR
                     || ':' || array_to_string(
                          w[i * {_CHUNK_STRIDE} + 1 :
                            i * {_CHUNK_STRIDE} + {_CHUNK_SIZE}], ' ')),
                   1, 10))::BIGINT))
             AS BIGINT) AS chunks_sig
    FROM chunked
    """,
    doc="RAG-style overlapping chunking: every document split into "
    f"word windows of {_CHUNK_SIZE} with stride {_CHUNK_STRIDE} "
    "(8-word overlap) — the retrieval-granularity transform between a "
    "raw corpus and an embedding/BM25 index.  Chunk COUNT is pure "
    "integer ceil arithmetic, chunk boundaries are list slices (both "
    "engines clamp past-end slices), and the per-doc summary carries "
    "an order-independent signature: the SUM of 40-bit md5 hashes of "
    "(doc_id:chunk_idx:chunk_text), so any boundary, ordering, or "
    "content drift between engines breaks the hash while the sum "
    "itself never depends on evaluation order (500k docs x 2^40 stays "
    "far under int64).  Everything is scan-stage higher-order "
    "functions over the split array — the text is tokenized ONCE, no "
    "explode, no shuffle of chunk bodies; the output is one slim row "
    "per document.  At 100 TB the chunk table this summarizes is "
    "written partition-parallel from the same expressions with the "
    "signature as the integrity check.",
)
def corpus_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    w = F.split(F.col("text"), " ")
    dl = F.size(w)
    n_chunks = F.when(dl <= _CHUNK_SIZE, F.lit(1)).otherwise(
        F.expr(
            f"(size(split(text, ' ')) - {_CHUNK_SIZE} + {_CHUNK_STRIDE} - 1) "
            f"div {_CHUNK_STRIDE} + 1"
        )
    )
    base = docs.select(
        "doc_id", w.alias("w"), dl.alias("dl"), n_chunks.alias("n_chunks")
    )
    idxs = F.sequence(F.lit(0), F.col("n_chunks") - 1)
    chunk_words = F.aggregate(
        F.transform(
            idxs,
            lambda i: F.least(
                F.col("dl") - i * _CHUNK_STRIDE, F.lit(_CHUNK_SIZE)
            ),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    chunk_sig = F.aggregate(
        F.transform(
            idxs,
            lambda i: F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("doc_id").cast("string"),
                            F.lit(":"),
                            i.cast("string"),
                            F.lit(":"),
                            F.array_join(
                                F.slice(
                                    F.col("w"), i * _CHUNK_STRIDE + 1, _CHUNK_SIZE
                                ),
                                " ",
                            ),
                        )
                    ),
                    1,
                    10,
                ),
                16,
                10,
            ).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return base.select(
        "doc_id",
        F.col("n_chunks").cast("bigint").alias("n_chunks"),
        chunk_words.alias("chunk_words"),
        chunk_sig.alias("chunks_sig"),
    )
