"""Oracle-checked text-analysis queries (driver mandate: language-ID,
quality scoring, token counting, fingerprinting over `documents`)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import HASH_PRIME, SQL_MD5_LONG, sql_word_shingles
from ..queries import register
from ..sources.batch import fan_out, load_table
from . import text as TX

_W = "string_split(text, ' ')"
_SQL_STOP = "list_filter({w}, x -> x = 'the' OR x = 'a')"

# BPE-ish pre-tokenizer regex (GPT-2 family, simplified to the subset
# with identical semantics in Java regex (Spark) and RE2 (DuckDB) —
# both leftmost-first alternation): optional leading space + letter
# run | up-to-3-digit run (BPE number chunking) | punctuation run.
_BPE_RE = " ?[A-Za-z]+| ?[0-9]{1,3}| ?[^A-Za-z0-9 ]+"


@register(
    "text_bpe_token_estimate",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT)
             AS n_bpe_tokens,
           CAST(len({_W}) AS BIGINT) AS n_ws_tokens,
           round(length(text)::DOUBLE
                 / len(regexp_extract_all(text, '{_BPE_RE}'))::DOUBLE, 4)
             AS chars_per_token
    FROM documents
    """,
    doc="Tokenizer-aware size estimation — the driver-mandated BPE-ish "
    "token count beside the whitespace count: a GPT-2-style "
    "pre-tokenizer regex (letter runs / <=3-digit number chunks / "
    "punctuation runs, optional leading space) counts the units a BPE "
    "vocabulary would start from, and chars-per-token is the budget "
    "planners' sizing ratio (~4 for English).  Pure per-row "
    "regexp_extract_all — codegen, zero shuffle, linear scan; the "
    "regex subset is chosen for identical leftmost-first semantics in "
    "Java regex and RE2 so both engines count the same tokens.",
)
def text_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    n_bpe = F.expr(f"size(regexp_extract_all(text, '{_BPE_RE}', 0))")
    n_ws = F.size(F.split("text", " "))
    return docs.select(
        "doc_id",
        n_bpe.cast("long").alias("n_bpe_tokens"),
        n_ws.cast("long").alias("n_ws_tokens"),
        F.round(
            F.length("text").cast("double") / n_bpe.cast("double"), 4
        ).alias("chars_per_token"),
    )


@register(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           len({_W}) AS n_tokens,
           len(list_distinct({_W})) AS n_unique_tokens,
           round(
             list_reduce(list_prepend(0, list_transform({_W}, t -> length(t))),
                         (a, x) -> a + x)::DOUBLE
             / len({_W})::DOUBLE, 6) AS avg_token_len,
           length(text) AS n_chars_len,
           n_chars
    FROM documents
    """,
    doc="Token counting: whitespace tokens, distinct tokens, mean token "
    "length, char length (validated against the table's n_chars).",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars"))
    out = TX.token_stats(docs)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_unique_tokens",
        F.round("avg_token_len", 6).alias("avg_token_len"),
        "n_chars_len",
        "n_chars",
    )


@register(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
           round(stop_ratio, 6) AS stop_ratio,
           round(long_ratio, 6) AS long_ratio,
           round(0.5 * (1.0 - stop_ratio) + 0.3 * long_ratio
                 + 0.2 * least(n::DOUBLE / 200.0, 1.0), 6) AS quality_score
    FROM (
      SELECT doc_id,
             len({_SQL_STOP.format(w=_W)})::DOUBLE / len({_W})::DOUBLE AS stop_ratio,
             len(list_filter({_W}, t -> length(t) > 4))::DOUBLE
               / len({_W})::DOUBLE AS long_ratio,
             len({_W}) AS n
      FROM documents
    )
    """,
    doc="Quality scoring: stopword ratio + long-token ratio + length factor "
    "blended to a [0,1] score (operators.text.quality_features).",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    out = TX.quality_features(docs)
    return out.select(
        "doc_id",
        F.round("stop_ratio", 6).alias("stop_ratio"),
        F.round("long_ratio", 6).alias("long_ratio"),
        F.round("quality_score", 6).alias("quality_score"),
    )


@register(
    "text_langid",
    oracle=f"""
    SELECT lang, lang_pred, count(*) AS n
    FROM (
      SELECT lang,
             CASE WHEN len({_SQL_STOP.format(w=_W)})::DOUBLE
                       / len({_W})::DOUBLE > 0.05
                  THEN 'en' ELSE 'und' END AS lang_pred
      FROM documents
    )
    GROUP BY lang, lang_pred
    """,
    doc="Language-ID heuristic (marker-stopword density) cross-tabulated "
    "against the labeled lang column (operators.text.langid_heuristic).",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents").select("lang", "text"))
    out = TX.langid_heuristic(docs)
    return out.groupBy("lang", "lang_pred").agg(F.count("*").alias("n"))


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct({_W})), ' ')) AS fp_sorted,
           list_reduce(
             list_prepend(0::BIGINT,
               list_transform({_W}, w -> {SQL_MD5_LONG.format(x='w')} % {HASH_PRIME})),
             (acc, x) -> (acc * 31 + x) % {HASH_PRIME}) AS fp_rolling
    FROM documents
    """,
    doc="Document fingerprinting: order-insensitive sorted-token md5 + "
    "order-sensitive polynomial rolling hash (operators.text.fingerprints).",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return TX.fingerprints(docs).select("doc_id", "fp_sorted", "fp_rolling")


@register(
    "text_tfidf_top_term",
    headline=True,
    oracle=f"""
    WITH tokens AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ), tf AS (
      SELECT doc_id, word, n_tokens,
             count(*)::DOUBLE / any_value(n_tokens)::DOUBLE AS tf
      FROM tokens GROUP BY doc_id, word, n_tokens
    ), df AS (
      SELECT word, count(DISTINCT doc_id) AS dfreq FROM tokens GROUP BY word
    ), n AS (
      SELECT count(*)::DOUBLE AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.word,
             tf.tf * ln(n.n_docs / df.dfreq::DOUBLE) AS score
      FROM tf JOIN df USING (word) CROSS JOIN n
    )
    SELECT doc_id, word AS top_word, round(score, 6) AS tfidf
    FROM (
      SELECT doc_id, word, score,
             row_number() OVER (
               PARTITION BY doc_id ORDER BY score DESC, word
             ) AS rnk
      FROM scored
    )
    WHERE rnk = 1
    """,
    doc="TF-IDF scoring from first principles: ONE explode pass -> tf "
    "grouped per (doc, word) -> document frequency derived from tf "
    "itself (already distinct per doc/word, so a plain count — no "
    "second explode, no count_distinct) -> idf via broadcast df + "
    "broadcast 1-row N -> per-doc argmax window. The corpus is "
    "tokenized exactly once; df and N are dictionary-sized broadcasts.",
)
def text_tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .lineage import truncate_lineage_scaled

    raw = load_table(spark, sf_dir, "documents")
    docs = fan_out(raw.select("doc_id", "text"))
    # split ONCE into an array column (r13 optimization: the old
    # explode(split)/size(split) pair re-tokenized every row twice —
    # Generate and Project evaluate their expressions independently,
    # codegen CSE does not span them)
    toks = docs.select("doc_id", F.split("text", " ").alias("toks"))
    tokens = toks.select(
        "doc_id",
        F.explode("toks").alias("word"),
        F.size("toks").alias("n_tokens"),
    )
    tf = tokens.groupBy("doc_id", "word", "n_tokens").agg(
        (F.count("*").cast("double") / F.col("n_tokens").cast("double")).alias("tf")
    )
    # Lineage cut (r13 optimization): tf feeds BOTH the broadcast df
    # build and the scoring join, and a broadcast build is not
    # exchange-reusable — without the cut the tokenize+groupBy subtree
    # executed twice (the r10 winnowing lesson, same fix as semdedup).
    # Byte-guarded (session 4): tf is corpus-scale (one row per
    # doc x distinct term), so the executor-local cut applies only
    # while the documents scan fits the storage budget — the sf10
    # graph-cut OOM lesson applied preemptively.
    tf = truncate_lineage_scaled(tf, source=raw)
    # tf already holds one row per (doc, word): document frequency is a
    # plain count over it — no second explode, no count_distinct shuffle.
    dfreq = tf.groupBy("word").agg(F.count("*").alias("dfreq"))
    # N as a broadcast 1-row aggregate (not a driver-side .count()
    # action), computed from the RAW scan (no fan_out: a repartition of
    # the full text column just to count rows is a wasted exchange)
    n1 = load_table(spark, sf_dir, "documents").agg(
        F.count("*").cast("double").alias("n_docs")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "word")
        .join(F.broadcast(n1))
        .select(
            "doc_id",
            "word",
            (
                F.col("tf")
                * F.log(F.col("n_docs") / F.col("dfreq").cast("double"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("word"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("doc_id", F.col("word").alias("top_word"), F.round("score", 6).alias("tfidf"))
    )


@register(
    "text_regex_stats",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(text, 's[a-z]+')) AS n_s_tokens,
           nullif(regexp_extract(text, 'qu[a-z]+'), '') AS first_qu_word,
           length(regexp_replace(text, '[aeiou]', '', 'g')) AS n_consonant_chars
    FROM documents
    """,
    doc="Regex scalar coverage: extract-all counts, first-match extraction "
    "(NULL-normalized on both engines), global replace.",
)
def text_regex_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit("s[a-z]+"), 0)).alias("n_s_tokens"),
        F.nullif(F.regexp_extract("text", "qu[a-z]+", 0), F.lit("")).alias(
            "first_qu_word"
        ),
        F.length(F.regexp_replace("text", "[aeiou]", "")).alias("n_consonant_chars"),
    )

@register(
    "text_unigram_logprob",
    oracle="""
    WITH tokens AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ), dw AS (
      SELECT doc_id, word, any_value(n_tokens) AS n_tokens, count(*) AS cnt
      FROM tokens GROUP BY doc_id, word
    ), wf AS (
      SELECT word, CAST(sum(cnt) AS BIGINT) AS wcount FROM dw GROUP BY word
    ), n AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM dw
    ), lp AS (
      SELECT word,
             CAST(round(-log2(wcount::DOUBLE / n_total::DOUBLE) * 1000000)
                  AS BIGINT) AS lp_i
      FROM wf CROSS JOIN n
    )
    SELECT doc_id,
           CAST(any_value(n_tokens) AS BIGINT) AS n_tokens,
           round(sum(cnt * lp_i)::DOUBLE
                 / any_value(n_tokens)::DOUBLE / 1000000.0, 6) AS bits_per_token
    FROM dw JOIN lp USING (word)
    GROUP BY doc_id
    """,
    doc="Unigram language-model scoring (the CCNet/perplexity-filter "
    "proxy): corpus unigram distribution -> per-token surprisal "
    "-log2 p(w) -> per-doc mean bits-per-token; high values flag "
    "gibberish, low values boilerplate. Per-token surprisal is scaled "
    "to exact integer micro-bits BEFORE the per-doc sum, so the "
    "aggregate is independent of summation order (a raw double sum "
    "would drift between engines). Shape: ONE explode pass, the "
    "frequency table and the 1-row total are dictionary-sized "
    "broadcasts — at 100 TB the corpus is tokenized once and never "
    "shuffled by token.",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    tokens = docs.select(
        "doc_id",
        F.explode(F.split("text", " ")).alias("word"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    dw = tokens.groupBy("doc_id", "word").agg(
        F.any_value("n_tokens").alias("n_tokens"), F.count("*").alias("cnt")
    )
    wf = dw.groupBy("word").agg(F.sum("cnt").cast("bigint").alias("wcount"))
    n1 = dw.agg(F.sum("cnt").cast("bigint").alias("n_total"))
    lp = (
        wf.crossJoin(F.broadcast(n1))
        .select(
            "word",
            F.round(
                -F.log2(F.col("wcount").cast("double") / F.col("n_total").cast("double"))
                * 1_000_000
            )
            .cast("bigint")
            .alias("lp_i"),
        )
    )
    return (
        dw.join(F.broadcast(lp), "word")
        .groupBy("doc_id")
        .agg(
            F.any_value("n_tokens").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum(F.col("cnt") * F.col("lp_i")).cast("double")
                / F.any_value("n_tokens").cast("double")
                / 1_000_000.0,
                6,
            ).alias("bits_per_token"),
        )
    )


# Classic UTF-8-decoded-as-Latin-1 artifacts: 'é' -> 'Ã©', 'ä' -> 'Ã¤',
# curly quote -> 'â€™'.  The corpus is clean ASCII, so a deterministic
# 10% of documents get artifacts injected (salted-md5 pick, 'e'->'Ã©')
# before detection — the positive path is genuinely exercised instead
# of vacuously asserting zero hits (the join_asof_tolerance lesson).
_MOJI_MARKS = ("Ã©", "Ã¤", "Ã¡", "â€™", "â€œ")


@register(
    "text_mojibake_stats",
    oracle=f"""
    WITH staged AS (
      SELECT doc_id, source,
             CASE WHEN {SQL_MD5_LONG.format(x="doc_id::VARCHAR || ':moji'")} % 100 < 10
                  THEN replace(text, 'e', 'Ã©') ELSE text END AS text
      FROM documents
    ), scored AS (
      SELECT doc_id, source,
             {" + ".join(f"(length(text) - length(replace(text, '{m}', ''))) // {len(m)}" for m in _MOJI_MARKS)}
               AS artifact_hits
      FROM staged
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN artifact_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged,
           CAST(sum(artifact_hits) AS BIGINT) AS total_hits
    FROM scored GROUP BY source
    """,
    doc="Encoding-corruption audit: counts classic UTF-8-as-Latin-1 "
    "mojibake marks ('Ã©', 'â€™', ...) per document and rolls up a "
    "per-source flag rate — the crawl-hygiene check run before "
    "training-data ingestion (mojibake inflates token counts and "
    "poisons vocabularies).  Detection is substring counting via "
    "length-difference (portable exact arithmetic, no regex dialect "
    "drift); a deterministic salted-hash 10% of documents get "
    "artifacts injected first so both the positive and negative "
    "detector paths are verified.  Pure per-row expressions into one "
    "per-source rollup: zero pre-agg shuffle, linear at any scale.",
)
def text_mojibake_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import md5_long

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    pick = md5_long(F.concat(F.col("doc_id").cast("string"), F.lit(":moji"))) % 100 < 10
    staged = docs.select(
        "doc_id",
        "source",
        F.when(pick, F.regexp_replace("text", "e", "Ã©")).otherwise(F.col("text")).alias("text"),
    )
    hits = None
    for m in _MOJI_MARKS:
        h = (F.length("text") - F.length(F.replace(F.col("text"), F.lit(m), F.lit("")))) / len(m)
        h = h.cast("long")
        hits = h if hits is None else hits + h
    scored = staged.select("doc_id", "source", hits.alias("artifact_hits"))
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.col("artifact_hits") > 0).cast("int")).cast("bigint").alias("n_flagged"),
        F.sum("artifact_hits").cast("bigint").alias("total_hits"),
    )


@register(
    "text_cooccurrence_pmi",
    oracle=f"""
    WITH tok AS MATERIALIZED (
      SELECT unnest({_W}) AS word FROM documents
    ), uni AS MATERIALIZED (
      SELECT word, count(*) AS c FROM tok GROUP BY word
    ), tot AS (
      SELECT sum(c) AS n FROM uni
    ), big AS (
      SELECT w[i] AS w1, w[i + 1] AS w2, count(*) AS cab
      FROM (SELECT {_W} AS w FROM documents),
           LATERAL (SELECT unnest(range(1, len(w))) AS i)
      GROUP BY w1, w2
    ), m AS (
      SELECT sum(cab) AS mtot FROM big
    )
    SELECT b.w1, b.w2, CAST(b.cab AS BIGINT) AS pair_count,
           round(ln(b.cab::DOUBLE / m.mtot)
                 - ln(u1.c::DOUBLE / t.n) - ln(u2.c::DOUBLE / t.n), 6) AS pmi
    FROM big b, m, tot t
    JOIN uni u1 ON u1.word = b.w1
    JOIN uni u2 ON u2.word = b.w2
    WHERE b.cab >= 5
    """,
    doc="Pointwise mutual information over adjacent word pairs — the "
    "collocation-mining statistic (Church & Hanks 1990) used to find "
    "multi-word expressions worth single tokens and to fingerprint "
    "machine-generated text (natural prose has heavy PMI tails; "
    "shuffled text is flat).  Bigrams come from 2-shingles exploded "
    "in the scan (no positional self-join), unigram marginals attach "
    "via two hash joins on the word key, and the corpus totals are "
    "scalar aggregates broadcast to every row.  PMI is computed as "
    "the same three-term ln expression in both engines from exact "
    "integer counts and rounded; the output set is chosen by an "
    "integer count threshold (never a float ordering), so parity is "
    "boundary-stable.  At 100 TB the bigram partial-agg dominates "
    "and is map-side combinable; marginal joins shuffle only the "
    "vocabulary-sized count tables.",
)
def text_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import word_shingles, words

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    tok = docs.select(F.explode(words("text")).alias("word"))
    uni = tok.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    tot = uni.agg(F.sum("c").alias("n"))
    big = (
        docs.select(F.explode(word_shingles(words("text"), 2)).alias("bg"))
        .select(
            F.substring_index("bg", " ", 1).alias("w1"),
            F.substring_index("bg", " ", -1).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cab"))
        .filter(F.col("cab") >= 5)
    )
    m = (
        docs.select((F.size(words("text")) - 1).alias("k"))
        .agg(F.sum("k").alias("mtot"))
    )
    u1 = uni.select(F.col("word").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("word").alias("w2"), F.col("c").alias("c2"))
    return (
        big.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(m))
        .select(
            "w1",
            "w2",
            F.col("cab").cast("bigint").alias("pair_count"),
            F.round(
                F.log(F.col("cab").cast("double") / F.col("mtot"))
                - F.log(F.col("c1").cast("double") / F.col("n"))
                - F.log(F.col("c2").cast("double") / F.col("n")),
                6,
            ).alias("pmi"),
        )
    )


# Winnowing parameters: word k-grams of size _WIN_K, window of _WIN_W
# consecutive gram hashes.  Guarantee (Schleimer et al., SIGMOD 2003):
# any shared run of >= _WIN_K + _WIN_W - 1 = 11 words yields a shared
# fingerprint; no fingerprint window goes unsampled.
_WIN_K = 4
_WIN_W = 8

# DuckDB twin of TX.winnow_fingerprints as a reusable CTE body yielding
# (doc_id, gram_pos, fp) — referenced by the fingerprint entry AND the
# overlap-pair entry so the two oracles cannot drift apart.
_SQL_WINNOW = f"""
    grams AS (
      SELECT doc_id,
             list_transform(
               {sql_word_shingles(_W, _WIN_K)},
               s -> {SQL_MD5_LONG.format(x='s')} % {HASH_PRIME}) AS hashed
      FROM documents
    ), sized AS (
      SELECT doc_id, hashed,
             -- mirror of the Spark side's assert_true gram-count cap
             -- (text.py winnow_fingerprints, POS_MOD = 2^20): the
             -- encoded-key argmin only fits ~1M gram positions, so the
             -- engine RAISES on a longer doc — the oracle must fail
             -- identically instead of silently computing (r10 ADVICE:
             -- a one-sided mismatch would misread as an engine bug).
             CASE WHEN len(hashed) > {1 << 20}
                  THEN error('winnow: doc exceeds ' || {1 << 20} || ' grams')
                  ELSE len(hashed) END AS m,
             LEAST({_WIN_W}, len(hashed)) AS eff_w
      FROM grams WHERE len(hashed) >= 1
    ), sel AS (
      SELECT doc_id, hashed,
             unnest(list_distinct(list_transform(
               range(1, m - eff_w + 2),
               p -> p + eff_w
                    - list_position(
                        list_reverse(array_slice(hashed, p, p + eff_w - 1)),
                        list_min(array_slice(hashed, p, p + eff_w - 1)))
             ))) AS gram_pos
      FROM sized
    ), winnow AS (
      SELECT doc_id,
             CAST(gram_pos AS BIGINT) AS gram_pos,
             CAST(hashed[gram_pos] AS BIGINT) AS fp
      FROM sel
    )
"""


@register(
    "text_winnowing_fingerprints",
    oracle=f"""
    WITH {_SQL_WINNOW}
    SELECT doc_id, gram_pos, fp FROM winnow
    """,
    doc=f"Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, "
    f"SIGMOD 2003 — the MOSS local fingerprinting algorithm): word "
    f"{_WIN_K}-gram md5 hashes, then each window of {_WIN_W} consecutive "
    "hashes selects its RIGHTMOST minimum, and the distinct selected "
    "positions are the document's fingerprint set — guaranteeing any "
    f"shared run of >= {_WIN_K + _WIN_W - 1} words between two documents "
    "shares a fingerprint, at ~2/(w+1) the density of keeping every "
    "gram (the partial-overlap detector text_fingerprint's whole-doc "
    "hashes cannot be).  Docs with fewer than w grams winnow one "
    "whole-doc window.  Shape: pure per-row array programs (shingle -> "
    "hash -> window-argmin scan) in codegen-adjacent HOFs, one explode "
    "of the ~2m/w selected positions, ZERO shuffles before the "
    "comparator; downstream dedup joins on the 8-byte fp exactly like "
    "dedup_duplicate_spans.  100 TB: per-doc work is O(words*w), "
    "fingerprint mass ~2n_grams/w rows — both linear; nothing global.",
)
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return TX.winnow_fingerprints(docs, k=_WIN_K, w=_WIN_W)


# Document-frequency cap for winnowing overlap pairs: fingerprints
# appearing in more than this many documents are boilerplate (common
# phrases), excluded from pairing — the dedup_duplicate_spans /
# dedup_boilerplate_ngrams discipline.  Bounds pair mass at
# sum_fp C(df, 2) <= n_fps * DF_CAP^2 / 2 under any skew.
_WIN_DF_CAP = 64
_WIN_MIN_SHARED = 2


@register(
    "dedup_winnowing_overlap",
    oracle=f"""
    WITH {_SQL_WINNOW},
    doc_fps AS (
      SELECT DISTINCT doc_id, fp FROM winnow
    ), kept AS (
      SELECT doc_id, fp FROM (
        SELECT doc_id, fp,
               count(*) OVER (PARTITION BY fp) AS df
        FROM doc_fps
      ) WHERE df <= {_WIN_DF_CAP}
    ), sizes AS (
      SELECT doc_id, count(*)::BIGINT AS n_fps FROM kept GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*)::BIGINT AS n_shared
      FROM kept a JOIN kept b
        ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING count(*) >= {_WIN_MIN_SHARED}
    )
    SELECT p.doc_a, p.doc_b, p.n_shared,
           sa.n_fps AS n_fps_a, sb.n_fps AS n_fps_b,
           (1000000 * p.n_shared) // LEAST(sa.n_fps, sb.n_fps)
             AS overlap_ppm
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    """,
    doc=f"Winnowing-based near-duplicate pairs — the dedup CONSUMER of "
    "text_winnowing_fingerprints (MOSS's second half): distinct "
    "(doc, fp) sets, boilerplate fingerprints pruned by document "
    f"frequency (df > {_WIN_DF_CAP} excluded — common phrases pair "
    "everything with everything), then a self-equi-join on the 8-byte "
    f"fp groups shared-fingerprint counts per pair (>= {_WIN_MIN_SHARED} "
    "kept) and scores containment-style overlap against the smaller "
    "fingerprint set in exact integer ppm.  Catches partial overlap "
    "(quoting, templating, section reuse) that whole-doc hashing and "
    "symmetric-threshold MinHash both miss, at winnowed density "
    "(~2/(w+1) of gram mass).  100 TB: every stage shuffles 8-byte "
    "hashes or (id,id) pairs, never text; the df cap bounds per-fp "
    f"pair expansion at C({_WIN_DF_CAP},2) under any skew; integer "
    "floor-division keeps the score engine-exact (Spark `div` == "
    "DuckDB `//` on non-negative operands).",
)
def dedup_winnowing_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .lineage import truncate_lineage

    docs = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    doc_fps = (
        TX.winnow_fingerprints(docs, k=_WIN_K, w=_WIN_W)
        .select("doc_id", "fp")
        .distinct()
    )
    kept = (
        doc_fps.withColumn("df", F.count("*").over(Window.partitionBy("fp")))
        .filter(F.col("df") <= _WIN_DF_CAP)
        .drop("df")
    )
    # The plan references `kept` four times (pair join left/right +
    # both size lookups); Spark does not dedupe common subplans, so
    # without a lineage cut the WHOLE winnowing subtree (scan ->
    # shingle -> hash -> window-argmin -> distinct -> df-window) runs
    # 4x — .explain showed four copies.  One materialization of the
    # narrow (doc_id, fp) table (16 bytes/row) feeds all four
    # consumers; the simhash rank-join lineage-cut precedent.
    kept = truncate_lineage(kept)
    sizes = kept.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_fps"))
    a = kept.select(F.col("doc_id").alias("doc_a"), "fp")
    b = kept.select(F.col("doc_id").alias("doc_b"), "fp")
    pairs = (
        a.join(b, ["fp"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= _WIN_MIN_SHARED)
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_fps").alias("n_fps_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_fps").alias("n_fps_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            "n_fps_a",
            "n_fps_b",
            F.expr("(1000000 * n_shared) div least(n_fps_a, n_fps_b)").alias(
                "overlap_ppm"
            ),
        )
    )


@register(
    "text_bigram_logprob",
    oracle=f"""
    WITH bg AS (
      SELECT doc_id,
             unnest({sql_word_shingles(_W, 2)}) AS bigram,
             len({_W}) AS n_tokens
      FROM documents WHERE len({_W}) >= 2
    ), db AS (
      SELECT doc_id, bigram, any_value(n_tokens) AS n_tokens,
             count(*)::BIGINT AS cnt
      FROM bg GROUP BY doc_id, bigram
    ), c12 AS (
      SELECT bigram, CAST(sum(cnt) AS BIGINT) AS c12 FROM db GROUP BY bigram
    ), c1 AS (
      SELECT word, count(*)::BIGINT AS c1 FROM (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents
      ) GROUP BY word
    ), v AS (
      SELECT count(DISTINCT word)::BIGINT AS vocab FROM (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents
      )
    ), lp AS (
      SELECT c12.bigram,
             CAST(round(-log2((c12.c12 + 1)::DOUBLE
                              / (c1.c1 + v.vocab)::DOUBLE) * 1000000)
                  AS BIGINT) AS lp_i
      FROM c12
      JOIN c1 ON c1.word = string_split(c12.bigram, ' ')[1]
      CROSS JOIN v
    )
    SELECT doc_id,
           CAST(any_value(n_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(cnt * lp_i) AS BIGINT) AS total_microbits,
           sum(cnt * lp_i)::DOUBLE
             / (any_value(n_tokens) - 1)::DOUBLE / 1000000.0
             AS bits_per_bigram
    FROM db JOIN lp USING (bigram)
    GROUP BY doc_id
    """,
    doc="Bigram language-model scoring with add-one smoothing — the "
    "context-aware upgrade of text_unigram_logprob's perplexity-filter "
    "proxy: p(w2|w1) = (c(w1 w2)+1)/(c(w1)+V), per-doc mean surprisal "
    "over the n-1 bigram positions.  Word-salad that unigram scoring "
    "cannot flag (right words, wrong order) scores high here.  Bigram "
    "extraction REUSES word_shingles(n=2) (one bound tokenize pass, "
    "the r10 bind fix), counts group on the bigram string, and the "
    "per-bigram surprisal table joins back on the bigram key — the "
    "TF-IDF shuffle shape, dictionary-sized after aggregation.  "
    "Surprisal is scaled to exact integer micro-bits per bigram TYPE "
    "before the per-doc weighted sum; the per-doc mean ships as the "
    "unrounded quotient of integer sums (the corpus_source_jsd "
    "half-boundary lesson).  100 TB: corpus tokenized twice (bigram + "
    "unigram passes), all shuffles on hashed token keys; the bigram "
    "dictionary is vocab-squared-bounded, far below corpus scale.",
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import word_shingles, words

    docs = fan_out(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    n_tok = F.size(F.split("text", " "))
    bg = docs.filter(n_tok >= 2).select(
        "doc_id",
        F.explode(word_shingles(words("text"), 2)).alias("bigram"),
        n_tok.alias("n_tokens"),
    )
    db = bg.groupBy("doc_id", "bigram").agg(
        F.any_value("n_tokens").alias("n_tokens"),
        F.count("*").cast("long").alias("cnt"),
    )
    c12 = db.groupBy("bigram").agg(F.sum("cnt").cast("long").alias("c12"))
    tok = docs.select(F.explode(F.split("text", " ")).alias("word"))
    c1 = tok.groupBy("word").agg(F.count("*").cast("long").alias("c1"))
    v = tok.agg(F.count_distinct("word").cast("long").alias("vocab"))
    lp = (
        c12.join(
            c1, F.split(F.col("bigram"), " ").getItem(0) == F.col("word")
        )
        .crossJoin(F.broadcast(v))
        .select(
            "bigram",
            F.round(
                -F.log2(
                    (F.col("c12") + 1).cast("double")
                    / (F.col("c1") + F.col("vocab")).cast("double")
                )
                * 1_000_000
            )
            .cast("long")
            .alias("lp_i"),
        )
    )
    return (
        db.join(lp, "bigram")
        .groupBy("doc_id")
        .agg(
            F.any_value("n_tokens").cast("long").alias("n_tokens"),
            F.sum(F.col("cnt") * F.col("lp_i")).cast("long").alias(
                "total_microbits"
            ),
            (
                F.sum(F.col("cnt") * F.col("lp_i")).cast("double")
                / (F.any_value("n_tokens") - 1).cast("double")
                / 1_000_000.0
            ).alias("bits_per_bigram"),
        )
    )


# ---------------------------------------------------------------------------
# BM25 retrieval top-k
# ---------------------------------------------------------------------------
# Fixed literal query — terms chosen from the corpus vocabulary with a
# deliberate document-frequency spread ('dup' is ~20x rarer than the
# others, so the IDF weighting is actually exercised).
_BM25_TERMS = ("dup", "merge", "query")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 15


def _sql_bm25_term(i: int, t: str) -> str:
    """One BM25 summand; float math in ONE fixed-order expression over
    exact-integer inputs (tf/dl/df/n/total_dl), so Spark and DuckDB
    evaluate bit-identically up to the final round."""
    tf = f"tf{i}"
    return (
        f"CASE WHEN {tf} > 0 THEN "
        f"ln(1.0 + (n_docs - df{i} + 0.5) / (df{i} + 0.5)) "
        f"* ({tf} * {1.0 + _BM25_K1}) "
        f"/ ({tf} + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * "
        f"(dl * n_docs)::DOUBLE / total_dl::DOUBLE)) "
        f"ELSE 0.0 END"
    )


@register(
    "text_bm25_topk",
    oracle=f"""
    WITH perdoc AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS dl,
             {", ".join(
                 f"len(list_filter(string_split(text, ' '), x -> x = '{t}'))"
                 f" AS tf{i}" for i, t in enumerate(_BM25_TERMS))}
      FROM documents
    ), corpus AS (
      SELECT count(*) AS n_docs, sum(dl) AS total_dl,
             {", ".join(
                 f"sum((tf{i} > 0)::INT) AS df{i}"
                 for i in range(len(_BM25_TERMS)))}
      FROM perdoc
    )
    SELECT doc_id,
           CAST(dl AS BIGINT) AS dl,
           round({" + ".join(
               _sql_bm25_term(i, t) for i, t in enumerate(_BM25_TERMS))},
             4) AS bm25,
           CAST(row_number() OVER (
             ORDER BY round({" + ".join(
                 _sql_bm25_term(i, t) for i, t in enumerate(_BM25_TERMS))},
               4) DESC, doc_id) AS BIGINT) AS rnk
    FROM perdoc, corpus
    WHERE {" + ".join(f"tf{i}" for i in range(len(_BM25_TERMS)))} > 0
    QUALIFY rnk <= {_BM25_TOPK}
    """,
    doc="BM25 top-k retrieval (Robertson & Zaragoza 2009, k1=1.2 "
    "b=0.75) for a fixed query over `documents` — the lexical "
    "retrieval primitive behind dataset search and hard-negative "
    "mining for embedding training.  Per-doc term frequencies and "
    "document length are exact integers computed in the scan stage "
    "(size(filter(words))); corpus stats (N, total length, per-term "
    "document frequencies) are ONE tiny aggregate broadcast back, so "
    "the scoring pass is scan -> map with no join of corpus-sized "
    "sides.  All float math lives in one fixed-order expression over "
    "those integers (dl/avgdl written as (dl*N)/total_dl: integer "
    "product first, ONE division) and both engines order by the "
    "ROUNDED score + doc_id, so ranking can never flip on a 1-ulp "
    "ln() difference.  Non-matching docs are filtered BEFORE the "
    "sort; the global top-k is ORDER BY + LIMIT in Spark "
    "(TakeOrderedAndProject: per-partition partial top-k, never a "
    "single-partition window).  At 100 TB: the query fans out as a "
    "3-term literal filter inside the scan, the shuffle carries only "
    "the <= k survivors per partition.",
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")

    # factory, NOT a default-arg closure: a two-parameter HOF lambda
    # binds (element, index) and the term literal would silently become
    # the array index (the functions.minhash_values lesson).
    def _tf(term: str) -> F.Column:
        return F.size(F.filter(w, lambda x: x == F.lit(term)))

    perdoc = docs.select(
        "doc_id",
        F.size(w).alias("dl"),
        *[_tf(t).alias(f"tf{i}") for i, t in enumerate(_BM25_TERMS)],
    )
    # r13 measured dead end, kept as a note so it isn't re-attempted: a
    # lineage cut here (perdoc feeds the corpus broadcast build AND the
    # scoring pass) re-measured SLOWER at sf0.1 (0.85s -> 1.04s noop
    # median) — the doubled subtree is one split + three array filters,
    # cheaper than the checkpoint round trip.  The CHUNK variant's cut
    # (text_bm25_chunk_topk) wins because its duplicated subtree also
    # carries the chunk explode + slice.
    corpus = perdoc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_dl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("int")).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    matched = perdoc.filter(
        sum((F.col(f"tf{i}") for i in range(len(_BM25_TERMS))), F.lit(0)) > 0
    ).crossJoin(F.broadcast(corpus))
    term_sql = " + ".join(
        _sql_bm25_term(i, t).replace("::DOUBLE", "")
        for i, t in enumerate(_BM25_TERMS)
    )
    scored = matched.select(
        "doc_id",
        F.col("dl").cast("bigint").alias("dl"),
        F.round(
            F.expr(
                term_sql.replace(
                    "(dl * n_docs)", "CAST(dl * n_docs AS DOUBLE)"
                ).replace("/ total_dl", "/ CAST(total_dl AS DOUBLE)")
            ),
            4,
        ).alias("bm25"),
    )
    from pyspark.sql import Window

    top = scored.orderBy(F.col("bm25").desc(), F.col("doc_id")).limit(_BM25_TOPK)
    return top.withColumn(
        "rnk",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id")))
        .cast("bigint"),
    )


@register(
    "text_inverted_postings",
    oracle=f"""
    WITH tf AS (
      SELECT w AS term, doc_id, count(*) AS tf
      FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
      )
      GROUP BY w, doc_id
    ), stats AS (
      SELECT term,
             count(*) AS df,
             CAST(sum(tf) AS BIGINT) AS cf
      FROM tf GROUP BY term
    ), top_docs AS (
      SELECT term, doc_id, tf,
             row_number() OVER (PARTITION BY term
                                ORDER BY tf DESC, doc_id) AS rnk
      FROM tf
      QUALIFY rnk <= 3
    )
    SELECT s.term,
           CAST(s.df AS BIGINT) AS df,
           s.cf,
           CAST(max(CASE WHEN t.rnk = 1 THEN t.doc_id END) AS BIGINT) AS top1_doc,
           CAST(max(CASE WHEN t.rnk = 1 THEN t.tf END) AS BIGINT) AS top1_tf,
           CAST(max(CASE WHEN t.rnk = 2 THEN t.doc_id END) AS BIGINT) AS top2_doc,
           CAST(max(CASE WHEN t.rnk = 3 THEN t.doc_id END) AS BIGINT) AS top3_doc
    FROM stats s JOIN top_docs t USING (term)
    GROUP BY s.term, s.df, s.cf
    """,
    doc="Inverted-index posting summary — the index-build side of the "
    "retrieval stack (text_bm25_topk scores, corpus_chunk_windows "
    "chunks, this builds): per term, document frequency, collection "
    "frequency, and the head of the tf-ordered posting list (top-3 "
    "docs by tf, doc_id tie-break — a LITERAL k so the per-term "
    "window is a pushed WindowGroupLimit, never a full posting sort). "
    "The tf table is one explode + hash aggregate on (term, doc) — "
    "map-side partial combine absorbs within-doc repeats before the "
    "shuffle — and every downstream row is vocabulary-bounded "
    "(Heaps' law), never token-bounded.  At 100 TB the posting lists "
    "themselves are written partition-parallel sorted by (term, -tf) "
    "from the same tf table; this summary is the integrity probe a "
    "build would ship with.  All-integer output, no float anywhere.",
)
def text_inverted_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    stats = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum("tf").cast("bigint").alias("cf"),
    )
    w = Window.partitionBy("term").orderBy(F.col("tf").desc(), F.col("doc_id"))
    top = tf.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 3)
    heads = top.groupBy("term").agg(
        F.max(F.when(F.col("rnk") == 1, F.col("doc_id"))).cast("bigint").alias("top1_doc"),
        F.max(F.when(F.col("rnk") == 1, F.col("tf"))).cast("bigint").alias("top1_tf"),
        F.max(F.when(F.col("rnk") == 2, F.col("doc_id"))).cast("bigint").alias("top2_doc"),
        F.max(F.when(F.col("rnk") == 3, F.col("doc_id"))).cast("bigint").alias("top3_doc"),
    )
    return stats.join(heads, "term").select(
        "term", "df", "cf", "top1_doc", "top1_tf", "top2_doc", "top3_doc"
    )


def _bm25_chunk_oracle() -> str:
    """DuckDB twin of BM25-over-chunks: the corpus_chunk_windows
    boundary arithmetic produces the retrieval units, the
    text_bm25_topk formula scores them — pure composition."""
    from .corpus_queries import _CHUNK_SIZE, _CHUNK_STRIDE

    terms = ", ".join(
        f"len(list_filter(cw, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    score = " + ".join(
        _sql_bm25_term(i, t) for i, t in enumerate(_BM25_TERMS)
    )
    return f"""
    WITH perdoc AS (
      SELECT doc_id, string_split(text, ' ') AS w,
             len(string_split(text, ' ')) AS dl
      FROM documents
    ), counted AS (
      SELECT doc_id, w,
             CASE WHEN dl <= {_CHUNK_SIZE} THEN 1
                  ELSE (dl - {_CHUNK_SIZE} + {_CHUNK_STRIDE} - 1)
                       // {_CHUNK_STRIDE} + 1 END AS n_chunks
      FROM perdoc
    ), chunks AS (
      SELECT doc_id, unnest(range(0, n_chunks::INT)) AS chunk_idx, w
      FROM counted
    ), units AS (
      SELECT doc_id, chunk_idx,
             w[chunk_idx * {_CHUNK_STRIDE} + 1 :
               chunk_idx * {_CHUNK_STRIDE} + {_CHUNK_SIZE}] AS cw
      FROM chunks
    ), scored_units AS (
      SELECT doc_id, chunk_idx, len(cw) AS dl, {terms}
      FROM units
    ), corpus AS (
      SELECT count(*) AS n_docs, sum(dl) AS total_dl,
             {", ".join(
                 f"sum((tf{i} > 0)::INT) AS df{i}"
                 for i in range(len(_BM25_TERMS)))}
      FROM scored_units
    )
    SELECT doc_id,
           CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(dl AS BIGINT) AS chunk_len,
           round({score}, 4) AS bm25,
           CAST(row_number() OVER (
             ORDER BY round({score}, 4) DESC, doc_id, chunk_idx)
             AS BIGINT) AS rnk
    FROM scored_units, corpus
    WHERE {" + ".join(f"tf{i}" for i in range(len(_BM25_TERMS)))} > 0
    QUALIFY rnk <= {_BM25_TOPK}
    """


@register(
    "text_bm25_chunk_topk",
    oracle=_bm25_chunk_oracle(),
    doc="BM25 retrieval at CHUNK granularity — the composition the "
    "retrieval stack exists for: corpus_chunk_windows' integer "
    "boundary arithmetic produces the overlapping retrieval units, "
    "text_bm25_topk's scoring discipline ranks them (chunk-level "
    "tf/df/length as exact integers, one tiny broadcast corpus "
    "aggregate, one fixed-order float expression, rounded-score "
    "ordering).  Passage retrieval ranks the chunk where the query "
    "terms CONCENTRATE above a long document that merely mentions "
    "them — the reason RAG systems index chunks, not documents.  "
    "Plan: chunks explode inside the scan stage (sequence + slice, "
    "the text tokenized once), non-matching chunks are filtered "
    "before the global ORDER BY + LIMIT top-k.  At 100 TB the unit "
    "count is ~4x the doc count and every downstream row is slim "
    "integers — same shuffle discipline as the document-level entry.",
)
def text_bm25_chunk_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .corpus_queries import _CHUNK_SIZE, _CHUNK_STRIDE

    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    dl_doc = F.size(w)
    n_chunks = F.when(dl_doc <= _CHUNK_SIZE, F.lit(1)).otherwise(
        F.expr(
            f"(size(split(text, ' ')) - {_CHUNK_SIZE} + {_CHUNK_STRIDE} - 1) "
            f"div {_CHUNK_STRIDE} + 1"
        )
    )
    units = docs.select(
        "doc_id",
        w.alias("w"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    ).select(
        "doc_id",
        "chunk_idx",
        F.slice(
            F.col("w"), F.col("chunk_idx") * _CHUNK_STRIDE + 1, _CHUNK_SIZE
        ).alias("cw"),
    )

    def _tf(term: str) -> F.Column:
        return F.size(F.filter(F.col("cw"), lambda x: x == F.lit(term)))

    scored_units = units.select(
        "doc_id",
        "chunk_idx",
        F.size(F.col("cw")).alias("dl"),
        *[_tf(t).alias(f"tf{i}") for i, t in enumerate(_BM25_TERMS)],
    )
    # r13: same cut as text_bm25_topk — scored_units feeds the corpus
    # broadcast build AND the scoring pass, and here the duplicated
    # subtree is the whole tokenize + chunk explode + slice pipeline.
    # Byte-guarded (session 4): the chunk-unit frame is corpus-scale
    # (~4x doc count), so the executor-local cut lapses when the
    # documents scan outgrows the storage budget.
    from .lineage import truncate_lineage_scaled

    scored_units = truncate_lineage_scaled(scored_units, source=docs)
    corpus = scored_units.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_dl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("int")).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    matched = scored_units.filter(
        sum((F.col(f"tf{i}") for i in range(len(_BM25_TERMS))), F.lit(0)) > 0
    ).crossJoin(F.broadcast(corpus))
    term_sql = " + ".join(
        _sql_bm25_term(i, t).replace("::DOUBLE", "")
        for i, t in enumerate(_BM25_TERMS)
    )
    scored = matched.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.col("dl").cast("bigint").alias("chunk_len"),
        F.round(
            F.expr(
                term_sql.replace(
                    "(dl * n_docs)", "CAST(dl * n_docs AS DOUBLE)"
                ).replace("/ total_dl", "/ CAST(total_dl AS DOUBLE)")
            ),
            4,
        ).alias("bm25"),
    )
    top = scored.orderBy(
        F.col("bm25").desc(), F.col("doc_id"), F.col("chunk_idx")
    ).limit(_BM25_TOPK)
    return top.withColumn(
        "rnk",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id"), F.col("chunk_idx")))
        .cast("bigint"),
    )
