"""Oracle-checked similarity-search queries (driver mandate: ANN over
the embeddings table — brute-force baseline + bucketed scale path)."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import scale
from ..functions import SQL_DOT, cosine, sql_cosine

SQL_DOT_SELF = SQL_DOT.format(a='embedding', b='embedding')
from ..queries import register
from ..sources.batch import fan_out, load_table
from . import similarity as S
from .dedup_queries import _SQL_EMB_CANDIDATES, _emb_candidates

_N_QUERIES = 20


@register(
    "ann_topk_bruteforce",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding AS q_vec
      FROM embeddings WHERE vec_id < {_N_QUERIES}
    ), scored AS (
      SELECT q.q_id, e.vec_id,
             {sql_cosine('q.q_vec', 'e.embedding')} AS cos
      FROM q JOIN embeddings e ON e.vec_id != q.q_id
    )
    SELECT q_id, vec_id, round(cos, 6) AS cos, rnk
    FROM (
      SELECT q_id, vec_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk
      FROM scored
    )
    WHERE rnk <= 5
    """,
    headline=True,
    doc="Exact cosine top-5 for 20 query vectors: broadcast queries, one "
    "corpus scan, window top-k (operators.similarity.brute_force_topk). "
    "The window's exchange is bounded, not corpus-sized: the rank "
    "filter triggers Catalyst's WindowGroupLimit Partial pushdown "
    "(SPARK-37099) below the shuffle — ≤ n_partitions*k rows per "
    "query cross the wire; plan-asserted in tests/test_plans.py.",
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = S.brute_force_topk(q, emb.select("vec_id", "embedding"), k=5)
    return out.select("q_id", "vec_id", F.round("cos", 6).alias("cos"), "rnk")


@register(
    "ann_topk_ivf_bucketed",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding AS q_vec, label AS q_label
      FROM embeddings WHERE vec_id < {_N_QUERIES}
    ), scored AS (
      SELECT q.q_id, e.vec_id,
             {sql_cosine('q.q_vec', 'e.embedding')} AS cos
      FROM q JOIN embeddings e
        ON e.label = q.q_label AND e.vec_id != q.q_id
    )
    SELECT q_id, vec_id, round(cos, 6) AS cos, rnk
    FROM (
      SELECT q_id, vec_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk
      FROM scored
    )
    WHERE rnk <= 3
    """,
    doc="IVF(nprobe=1)-style ANN: candidates restricted to the query's coarse "
    "cell (label column as cell id) — the equi-join scale path "
    "(operators.similarity.ivf_topk).",
)
def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("label").alias("q_label"),
    )
    out = S.ivf_topk(q, emb.select("vec_id", "embedding", "label"), k=3)
    return out.select("q_id", "vec_id", F.round("cos", 6).alias("cos"), "rnk")


# Spark/DuckDB SRP-LSH bucket twins live in operators.similarity so the
# dedup queries can reuse the same bucketed candidate stage.
_sql_srp_bits = S.sql_srp_bits


@register(
    "ann_topk_srp_lsh",
    oracle=f"""
    WITH bucketed AS (
      SELECT vec_id, embedding,
             {_sql_srp_bits('embedding')} AS bucket
      FROM embeddings
    ), q AS (
      SELECT vec_id AS q_id, embedding AS q_vec, bucket AS q_bucket
      FROM bucketed WHERE vec_id < {_N_QUERIES}
    ), scored AS (
      SELECT q.q_id, e.vec_id,
             {sql_cosine('q.q_vec', 'e.embedding')} AS cos
      FROM q JOIN bucketed e
        ON e.bucket = q.q_bucket AND e.vec_id != q.q_id
    )
    SELECT q_id, vec_id, round(cos, 6) AS cos, rnk
    FROM (
      SELECT q_id, vec_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk
      FROM scored
    )
    WHERE rnk <= 3
    """,
    doc="Signed-random-projection LSH ANN: 8 deterministic hyperplanes "
    "(integer-hash components, no RNG) hash vectors to sign-bit buckets; "
    "candidates = same bucket, then exact cosine top-3. The no-label scale "
    "path: bucket id is a shuffle/bucketing key, candidates shrink ~2^-8.",
)
def ann_topk_srp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    bucketed = emb.select(
        "vec_id", "embedding", S.srp_bucket(F.col("embedding")).alias("bucket")
    )
    q = bucketed.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("bucket").alias("q_bucket"),
    )
    pairs = bucketed.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("q_bucket")) & (F.col("vec_id") != F.col("q_id")),
    )
    from ..functions import cosine

    scored = pairs.select(
        "q_id", "vec_id", cosine(F.col("q_vec"), F.col("embedding")).alias("cos")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("q_id", "vec_id", F.round("cos", 6).alias("cos"), "rnk")
    )


@register(
    "emb_label_centroids",
    oracle="""
    SELECT label, CAST(pos AS INT) AS pos,
           round(avg(embedding[pos + 1]::DOUBLE), 6) AS centroid_val,
           count(*) AS n_vectors
    FROM embeddings, range(64) t(pos)
    GROUP BY label, pos
    """,
    doc="Per-cell centroid computation (the k-means training step behind an "
    "IVF coarse quantizer): posexplode the vector, hash-agg mean per "
    "(cell, dimension). One shuffle on (label, pos); at 100 TB this is the "
    "canonical map-side-combine aggregation.",
)
def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    )
    return (
        exploded.groupBy("label", "pos")
        .agg(
            F.round(F.avg(F.col("val").cast("double")), 6).alias("centroid_val"),
            F.count("*").alias("n_vectors"),
        )
        .select("label", F.col("pos").cast("int").alias("pos"), "centroid_val", "n_vectors")
    )


@register(
    "emb_normalize",
    oracle=f"""
    SELECT vec_id,
           round(sqrt({SQL_DOT_SELF}), 6) AS l2_norm,
           round(embedding[1]::DOUBLE / sqrt({SQL_DOT_SELF}), 6) AS unit_first
    FROM embeddings
    """,
    doc="Vector preprocessing: L2 norm + unit-normalized components via "
    "sequential folds (functions.l2_norm) — the normalize step before "
    "cosine retrieval collapses to a dot product at serving time.",
)
def emb_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import l2_norm

    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    norm = l2_norm(F.col("embedding"))
    return emb.select(
        "vec_id",
        F.round(norm, 6).alias("l2_norm"),
        F.round(F.element_at("embedding", 1).cast("double") / norm, 6).alias(
            "unit_first"
        ),
    )


@register(
    "ann_ivf_recall",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding AS q_vec, label AS q_label
      FROM embeddings WHERE vec_id < {_N_QUERIES}
    ), brute AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.q_id
                 ORDER BY {sql_cosine('q.q_vec', 'e.embedding')} DESC, e.vec_id
               ) AS rnk
        FROM q JOIN embeddings e ON e.vec_id != q.q_id
      ) WHERE rnk <= 5
    ), ivf AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.q_id
                 ORDER BY {sql_cosine('q.q_vec', 'e.embedding')} DESC, e.vec_id
               ) AS rnk
        FROM q JOIN embeddings e
          ON e.label = q.q_label AND e.vec_id != q.q_id
      ) WHERE rnk <= 5
    )
    SELECT b.q_id,
           coalesce(sum(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END), 0)::BIGINT
             AS n_hits,
           round(coalesce(sum(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END), 0)
                 / 5.0, 6) AS recall_at_5
    FROM brute b LEFT JOIN ivf i ON b.q_id = i.q_id AND b.vec_id = i.vec_id
    GROUP BY b.q_id
    """,
    doc="Recall@5 of IVF(nprobe=1) vs exact brute force on the same 20 "
    "queries: the accuracy/cost trade the bucketed 100 TB ANN path makes "
    "explicit — nprobe=1 touches 1/n_cells of the corpus and this query "
    "quantifies what that skips (operators.similarity.ivf_topk vs "
    "brute_force_topk).",
)
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("label").alias("q_label"),
    )
    brute = S.brute_force_topk(q, emb.select("vec_id", "embedding"), k=5).select(
        "q_id", "vec_id"
    )
    ivf = (
        S.ivf_topk(q, emb.select("vec_id", "embedding", "label"), k=5)
        .select("q_id", "vec_id")
        .withColumnRenamed("vec_id", "i_vec_id")
        .withColumnRenamed("q_id", "i_q_id")
    )
    hits = brute.join(
        ivf,
        (brute.q_id == ivf.i_q_id) & (brute.vec_id == ivf.i_vec_id),
        "left",
    )
    return hits.groupBy("q_id").agg(
        F.coalesce(
            F.sum(F.when(F.col("i_vec_id").isNotNull(), 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("n_hits"),
        F.round(
            F.coalesce(
                F.sum(F.when(F.col("i_vec_id").isNotNull(), 1).otherwise(0)), F.lit(0)
            )
            / 5.0,
            6,
        ).alias("recall_at_5"),
    )


@register(
    "ann_topk_ivf_multiprobe",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding AS q_vec, label AS q_label
      FROM embeddings WHERE vec_id < {_N_QUERIES}
    ), scored AS (
      SELECT q.q_id, e.vec_id,
             {sql_cosine('q.q_vec', 'e.embedding')} AS cos
      FROM q JOIN embeddings e
        ON (e.label = q.q_label OR e.label = (q.q_label + 1) % 10)
       AND e.vec_id != q.q_id
    )
    SELECT q_id, vec_id, round(cos, 6) AS cos, rnk
    FROM (
      SELECT q_id, vec_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk
      FROM scored
    )
    WHERE rnk <= 3
    """,
    doc="IVF multi-probe (nprobe=2) ANN: each query probes its own cell "
    "PLUS a deterministic second cell ((label+1) mod 10 standing in for "
    "the 2nd-nearest centroid — with learned centroids the probe list "
    "comes from a broadcast centroid ranking, same plan). The query "
    "side explodes to one row per probe, keeping the corpus join an "
    "EQUI-join on cell id — the knob between nprobe=1 (cheapest) and "
    "all-cells (= brute force): cost scales linearly with nprobe, "
    "recall approaches exact.",
)
def ann_topk_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.explode(
            F.array(F.col("label"), (F.col("label") + 1) % 10)
        ).alias("probe_cell"),
    )
    corpus = emb.select("vec_id", "embedding", "label")
    pairs = corpus.join(
        F.broadcast(q),
        (F.col("probe_cell") == F.col("label"))
        & (F.col("vec_id") != F.col("q_id")),
    )
    scored = pairs.select(
        "q_id", "vec_id", cosine(F.col("q_vec"), F.col("embedding")).alias("cos")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("q_id", "vec_id", F.round("cos", 6).alias("cos"), "rnk")
    )


@register(
    "ann_filtered_topk",
    oracle=f"""
    WITH allowed AS (
      SELECT vec_id, embedding,
             {_sql_srp_bits('embedding')} AS bucket
      FROM embeddings WHERE label % 2 = 0
    ), q AS (
      SELECT vec_id AS q_id, embedding AS q_vec,
             {_sql_srp_bits('embedding')} AS q_bucket
      FROM embeddings WHERE vec_id < {_N_QUERIES}
    ), scored AS (
      SELECT q.q_id, e.vec_id,
             {sql_cosine('q.q_vec', 'e.embedding')} AS cos
      FROM q JOIN allowed e
        ON e.bucket = q.q_bucket AND e.vec_id != q.q_id
    )
    SELECT q_id, vec_id, round(cos, 6) AS cos, rnk
    FROM (
      SELECT q_id, vec_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk
      FROM scored
    )
    WHERE rnk <= 3
    """,
    doc="Metadata-filtered ANN (the RAG/ACL pattern: top-k among only the "
    "vectors a predicate allows — here label mod 2 = 0 standing in for a "
    "tenant/permission column). PRE-filter strategy: the predicate is "
    "applied to the corpus BEFORE bucketing, so it pushes down to the "
    "parquet scan and the SRP-LSH bucket equi-join only ever sees "
    "allowed rows — top-k is exact over the filtered bucket, never a "
    "post-filter that can return < k rows after discarding hits. At "
    "100 TB the filter prunes row groups via parquet min/max stats "
    "before any vector math runs.",
)
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    allowed = emb.filter(F.col("label") % 2 == 0).select(
        "vec_id", "embedding", S.srp_bucket(F.col("embedding")).alias("bucket")
    )
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        S.srp_bucket(F.col("embedding")).alias("q_bucket"),
    )
    pairs = allowed.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("q_bucket")) & (F.col("vec_id") != F.col("q_id")),
    )
    scored = pairs.select(
        "q_id", "vec_id", cosine(F.col("q_vec"), F.col("embedding")).alias("cos")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("q_id", "vec_id", F.round("cos", 6).alias("cos"), "rnk")
    )


@register(
    "emb_intra_inter_cosine",
    oracle=f"""
    WITH cent AS (
      SELECT label AS c_label, pos,
             round(avg(embedding[pos + 1]::DOUBLE), 6) AS cv
      FROM embeddings, range(64) t(pos)
      GROUP BY label, pos
    ), cvec AS (
      SELECT c_label, list(cv ORDER BY pos) AS cvec
      FROM cent GROUP BY c_label
    ), scored AS (
      SELECT e.vec_id, e.label, c.c_label,
             CAST(round({sql_cosine('e.embedding', 'c.cvec')} * 1000000)
                  AS BIGINT) AS cos_i
      FROM embeddings e CROSS JOIN cvec c
    ), per_vec AS (
      SELECT vec_id, label,
             max(CASE WHEN c_label = label THEN cos_i END) AS intra_i,
             max(CASE WHEN c_label != label THEN cos_i END) AS inter_i
      FROM scored GROUP BY vec_id, label
    )
    SELECT label, count(*) AS n_vectors,
           round(sum(intra_i)::DOUBLE / count(*) / 1000000.0, 6)
             AS avg_intra_cos,
           round(sum(inter_i)::DOUBLE / count(*) / 1000000.0, 6)
             AS avg_nearest_other_cos,
           round((sum(intra_i) - sum(inter_i))::DOUBLE / count(*) / 1000000.0, 6)
             AS margin
    FROM per_vec GROUP BY label
    """,
    doc="Embedding-space cluster diagnostics (the silhouette-style check "
    "run before trusting an embedding column for dedup/retrieval): per "
    "label, mean cosine of members to their OWN centroid vs to the "
    "NEAREST OTHER centroid, and the margin between them. Centroids are "
    "a tiny broadcast (n_labels x dim); each vector is scored against "
    "all centroids in one map-side pass — the corpus is scanned once "
    "and never self-joined. Per-vector cosines are scaled to exact "
    "integer micro-units BEFORE the per-label mean so the aggregate is "
    "independent of summation order (engine-exact vs the oracle).",
)
def emb_intra_inter_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    cent = (
        emb.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("cv"))
    )
    cvec = cent.groupBy(F.col("label").alias("c_label")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cv"))), lambda s: s["cv"]
        ).alias("cvec")
    )
    cos_i = (
        F.round(cosine(F.col("embedding"), F.col("cvec")) * 1_000_000)
        .cast("bigint")
        .alias("cos_i")
    )
    scored = emb.crossJoin(F.broadcast(cvec)).select(
        "vec_id", "label", "c_label", cos_i
    )
    per_vec = scored.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("c_label") == F.col("label"), F.col("cos_i"))).alias(
            "intra_i"
        ),
        F.max(F.when(F.col("c_label") != F.col("label"), F.col("cos_i"))).alias(
            "inter_i"
        ),
    )
    return per_vec.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.round(F.sum("intra_i").cast("double") / F.count("*") / 1_000_000.0, 6).alias(
            "avg_intra_cos"
        ),
        F.round(F.sum("inter_i").cast("double") / F.count("*") / 1_000_000.0, 6).alias(
            "avg_nearest_other_cos"
        ),
        F.round(
            (F.sum("intra_i") - F.sum("inter_i")).cast("double")
            / F.count("*")
            / 1_000_000.0,
            6,
        ).alias("margin"),
    )


_SQL_D2 = (
    "list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform(list_zip({a}, {b}), "
    "z -> (z[1]::DOUBLE - z[2]::DOUBLE) * (z[1]::DOUBLE - z[2]::DOUBLE))), "
    "(acc, x) -> acc + x)"
)


@register(
    "ivf_kmeans_lloyd_step",
    oracle=f"""
    WITH cent AS (
      SELECT label AS c_label, pos,
             round(avg(embedding[pos + 1]::DOUBLE), 6) AS cv
      FROM embeddings, range(64) t(pos)
      GROUP BY label, pos
    ), cvec AS (
      SELECT c_label, list(cv ORDER BY pos) AS cvec
      FROM cent GROUP BY c_label
    ), dists AS (
      SELECT e.vec_id, e.label, c.c_label,
             {_SQL_D2.format(a='e.embedding', b='c.cvec')} AS d2
      FROM embeddings e CROSS JOIN cvec c
    ), best AS (
      SELECT vec_id, label, c_label AS new_label FROM (
        SELECT vec_id, label, c_label,
               row_number() OVER (
                 PARTITION BY vec_id ORDER BY d2, c_label
               ) AS rn
        FROM dists
      ) WHERE rn = 1
    )
    SELECT label, new_label, count(*) AS n_vectors
    FROM best GROUP BY label, new_label
    """,
    doc="One Lloyd iteration of k-means over the embedding corpus (the "
    "IVF coarse-quantizer training step): centroids = per-cell means "
    "(posexplode + map-side-combine agg, rounded to engine-exact "
    "millionths), then every vector is re-assigned to its nearest "
    "centroid via a BROADCAST of the tiny centroid table and a "
    "sequential-fold squared-L2 — deterministic argmin (min over "
    "(d2, label) struct; ties break to the smaller cell id). Output is "
    "the migration matrix old-cell -> new-cell. At 100 TB this is the "
    "canonical Spark k-means shape: one shuffle for the means, one "
    "broadcast + map-side argmin for assignment, one shuffle for the "
    "matrix — the corpus is scanned twice and never shuffled by vector.",
)
def ivf_kmeans_lloyd_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    cent = (
        emb.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("cv"))
    )
    cvec = cent.groupBy(F.col("label").alias("c_label")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cv"))), lambda s: s["cv"]
        ).alias("cvec")
    )
    d2 = F.aggregate(
        F.zip_with(
            "embedding",
            "cvec",
            lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    dists = emb.crossJoin(F.broadcast(cvec)).select(
        "vec_id", "label", F.struct(d2.alias("d2"), F.col("c_label")).alias("dc")
    )
    best = dists.groupBy("vec_id", "label").agg(
        F.min("dc").getField("c_label").alias("new_label")
    )
    return best.groupBy("label", "new_label").agg(F.count("*").alias("n_vectors"))


@register(
    "emb_quantize_int8",
    oracle="""
    WITH m AS (
      SELECT vec_id, embedding,
             greatest(
               list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0,
               1e-30
             ) AS scale
      FROM embeddings
    )
    SELECT vec_id, round(scale, 6) AS scale,
           round(sqrt(list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(embedding,
               x -> (x::DOUBLE - floor(x::DOUBLE / scale + 0.5) * scale)
                  * (x::DOUBLE - floor(x::DOUBLE / scale + 0.5) * scale))),
             (a, b) -> a + b)), 6) AS recon_err
    FROM m
    """,
    doc="Symmetric int8 scalar quantization of the embedding column "
    "(the 4x memory cut that makes billion-vector ANN indexes fit): "
    "per-vector scale = max|x| / 127, code = floor(x/scale + 0.5) "
    "(explicit half-up — engine-portable, unlike round()'s dialect-"
    "dependent tie rule), reporting the L2 reconstruction error. Pure "
    "per-row fold work, zero shuffle at any scale; max|x| is an exact "
    "fold so the result is deterministic.",
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    mx = F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
    m = emb.select(
        "vec_id", "embedding", F.greatest(mx / 127.0, F.lit(1e-30)).alias("scale")
    )
    err = lambda x: (
        x.cast("double") - F.floor(x.cast("double") / F.col("scale") + 0.5) * F.col("scale")
    )
    err2 = F.aggregate(
        F.transform("embedding", lambda x: err(x) * err(x)),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    # recon_err must see the UNROUNDED scale: aliasing round(scale) as
    # "scale" in the same select would shadow it via lateral-column-alias
    # resolution, so the error fold runs first, rounding second.
    raw = m.select("vec_id", "scale", F.sqrt(err2).alias("err"))
    return raw.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.round("err", 6).alias("recon_err"),
    )


# --- product quantization ----------------------------------------------
#
# Codebook is a compile-time constant (deterministic Knuth-hash rationals,
# same trick as similarity.srp_bucket): M=4 subspaces x K=4 codes x 16
# dims. Python float repr round-trips, so embedding the literals gives
# Spark and DuckDB bit-identical doubles.
_PQ_M, _PQ_K, _PQ_SUB = 4, 4, 16


def _pq_cb(s: int, k: int, d: int) -> float:
    return ((s * 64 + k * 16 + d) * 2654435761 % 1000) / 1000.0 - 0.5


def _pq_sql() -> str:
    dist_cols = []
    for s in range(_PQ_M):
        for k in range(_PQ_K):
            terms = " + ".join(
                f"(embedding[{s * _PQ_SUB + d + 1}]::DOUBLE - ({_pq_cb(s, k, d)!r}))"
                f" * (embedding[{s * _PQ_SUB + d + 1}]::DOUBLE - ({_pq_cb(s, k, d)!r}))"
                for d in range(_PQ_SUB)
            )
            dist_cols.append(f"({terms}) AS d_{s}_{k}")
    codes = []
    errs = []
    for s in range(_PQ_M):
        d = [f"d_{s}_{k}" for k in range(_PQ_K)]
        codes.append(
            f"CASE WHEN {d[0]} <= {d[1]} AND {d[0]} <= {d[2]} AND {d[0]} <= {d[3]}"
            f" THEN 0 WHEN {d[1]} <= {d[2]} AND {d[1]} <= {d[3]} THEN 1"
            f" WHEN {d[2]} <= {d[3]} THEN 2 ELSE 3 END AS code_{s}"
        )
        errs.append(f"least({d[0]}, {d[1]}, {d[2]}, {d[3]})")
    return f"""
    WITH dists AS (
      SELECT vec_id, {", ".join(dist_cols)} FROM embeddings
    )
    SELECT vec_id, {", ".join(codes)},
           round({" + ".join(errs)}, 6) AS q_err
    FROM dists
    """


@register(
    "emb_pq_assign",
    oracle=_pq_sql(),
    doc="Product-quantization encoding (Jegou et al. 2011): the 64-dim "
    "embedding splits into 4 subspaces of 16 dims; each subvector is "
    "assigned its nearest of 4 per-subspace codebook centroids "
    "(squared-L2, ties to the lowest code id), compressing the vector "
    "to a 4-byte PQ code plus a reconstruction error. Codebooks here "
    "are deterministic compile-time constants so both engines score "
    "identical distances; in production they come from k-means "
    "(ivf_kmeans_lloyd_step is the training step). Pure per-row "
    "arithmetic — zero shuffle, runs at scan speed — and the PQ code "
    "is what makes billion-scale ANN memory-resident: 64 floats -> 4 "
    "bytes, with asymmetric distance computed against the codebook at "
    "query time.",
)
def emb_pq_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding"))
    # SQL-string construction (see _spark_dist_exprs): the nested-Column
    # form costs seconds of py4j round trips per call for zero plan gain.
    dists = emb.selectExpr("vec_id", *_spark_dist_exprs())
    err_sum = " + ".join(
        f"least({', '.join(f'd_{s}_{k}' for k in range(_PQ_K))})"
        for s in range(_PQ_M)
    )
    return dists.selectExpr(
        "vec_id", *_spark_code_exprs(), f"round({err_sum}, 6) AS q_err"
    )


# --- PQ asymmetric-distance search -------------------------------------

_PQ_NQ = 8  # ADC query rows (vec_id < _PQ_NQ)


def _spark_dist_exprs(alias_prefix: str = "d") -> list[str]:
    """Spark-SQL distance-column strings (one selectExpr argument per
    subspace x code).  Building these as SQL text instead of nested
    Column arithmetic matters: the Column form costs ~3000 py4j round
    trips (~4.5s of DataFrame CONSTRUCTION per call, dwarfing the 1.1s
    execution); the string form is 16 expressions parsed JVM-side.
    Arithmetic order matches the DuckDB twin exactly (left-assoc sum)."""
    cols = []
    for s in range(_PQ_M):
        for k in range(_PQ_K):
            terms = " + ".join(
                f"(CAST(element_at(embedding, {s * _PQ_SUB + d + 1}) AS DOUBLE)"
                f" - {_pq_cb(s, k, d)!r}D)"
                f" * (CAST(element_at(embedding, {s * _PQ_SUB + d + 1}) AS DOUBLE)"
                f" - {_pq_cb(s, k, d)!r}D)"
                for d in range(_PQ_SUB)
            )
            cols.append(f"({terms}) AS {alias_prefix}_{s}_{k}")
    return cols


def _spark_code_exprs() -> list[str]:
    """Spark-SQL nearest-code CASE strings (ties to lowest code id)."""
    codes = []
    for s in range(_PQ_M):
        d = [f"d_{s}_{k}" for k in range(_PQ_K)]
        codes.append(
            f"CASE WHEN {d[0]} <= {d[1]} AND {d[0]} <= {d[2]} AND {d[0]} <= {d[3]}"
            f" THEN 0 WHEN {d[1]} <= {d[2]} AND {d[1]} <= {d[3]} THEN 1"
            f" WHEN {d[2]} <= {d[3]} THEN 2 ELSE 3 END AS code_{s}"
        )
    return codes


def _pq_dt_sql() -> str:
    """Query-side distance-table columns dt_{s}_{k} (squared L2 between
    query subvector s and codebook centroid k) — DuckDB twin of the
    Spark expressions in ann_topk_pq_adc."""
    cols = []
    for s in range(_PQ_M):
        for k in range(_PQ_K):
            terms = " + ".join(
                f"(embedding[{s * _PQ_SUB + d + 1}]::DOUBLE - ({_pq_cb(s, k, d)!r}))"
                f" * (embedding[{s * _PQ_SUB + d + 1}]::DOUBLE - ({_pq_cb(s, k, d)!r}))"
                for d in range(_PQ_SUB)
            )
            cols.append(f"({terms}) AS dt_{s}_{k}")
    return ", ".join(cols)


def _pq_codes_sql(extra: str = "") -> str:
    """Corpus-side PQ code columns code_{s} — same assignment rule as
    emb_pq_assign (nearest centroid, ties to the lowest code id).
    ``extra`` appends passthrough columns (e.g. ``", label"`` for the
    IVF cell id)."""
    dist_cols = []
    for s in range(_PQ_M):
        for k in range(_PQ_K):
            terms = " + ".join(
                f"(embedding[{s * _PQ_SUB + d + 1}]::DOUBLE - ({_pq_cb(s, k, d)!r}))"
                f" * (embedding[{s * _PQ_SUB + d + 1}]::DOUBLE - ({_pq_cb(s, k, d)!r}))"
                for d in range(_PQ_SUB)
            )
            dist_cols.append(f"({terms}) AS d_{s}_{k}")
    codes = []
    for s in range(_PQ_M):
        d = [f"d_{s}_{k}" for k in range(_PQ_K)]
        codes.append(
            f"CASE WHEN {d[0]} <= {d[1]} AND {d[0]} <= {d[2]} AND {d[0]} <= {d[3]}"
            f" THEN 0 WHEN {d[1]} <= {d[2]} AND {d[1]} <= {d[3]} THEN 1"
            f" WHEN {d[2]} <= {d[3]} THEN 2 ELSE 3 END AS code_{s}"
        )
    return (
        f"SELECT vec_id{extra}, {', '.join(codes)} FROM "
        f"(SELECT vec_id{extra}, {', '.join(dist_cols)} FROM embeddings)"
    )


def _pq_adc_sql() -> str:
    lookup = []
    for s in range(_PQ_M):
        branches = " ".join(
            f"WHEN {k} THEN dt_{s}_{k}" for k in range(_PQ_K)
        )
        lookup.append(f"(CASE code_{s} {branches} END)")
    adc = " + ".join(lookup)
    return f"""
    WITH codes AS (
      {_pq_codes_sql()}
    ), qdt AS (
      SELECT vec_id AS q_id, {_pq_dt_sql()}
      FROM embeddings WHERE vec_id < {_PQ_NQ}
    ), scored AS (
      SELECT q_id, vec_id, {adc} AS adc
      FROM codes CROSS JOIN qdt
      WHERE vec_id != q_id
    )
    SELECT q_id, vec_id, round(adc, 6) AS adc, rnk
    FROM (
      SELECT q_id, vec_id, adc,
             row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS rnk
      FROM scored
    )
    WHERE rnk <= 5
    """


@register(
    "ann_topk_pq_adc",
    oracle=_pq_adc_sql(),
    headline=True,
    doc="PQ asymmetric-distance (ADC) top-k search (Jegou et al. 2011): "
    "the corpus is scanned as 4-byte PQ codes (emb_pq_assign's "
    "assignment), each query precomputes a 4x4 distance table of "
    "query-subvector-to-centroid squared L2, and the approximate "
    "distance is 4 table lookups + 3 adds per corpus row.  The "
    "distance tables ride a broadcast (queries x M*K doubles — KB "
    "scale), the corpus side never shuffles, and the top-k window's "
    "exchange is bounded by the WindowGroupLimit Partial pushdown "
    "(≤ n_partitions*k rows per query, plan-asserted) — the scored "
    "set never crosses the wire.  This is the "
    "memory-resident billion-scale ANN layout: "
    "the full-precision vectors are only needed for the final rerank, "
    "never the scan.",
)
def ann_topk_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding"))

    # corpus -> PQ codes (same expressions as emb_pq_assign), built as
    # SQL strings (see _spark_dist_exprs on why), behind a Generate
    # barrier (explode of a 1-element array, the pipeline.decode_kinesis
    # idiom): without it Catalyst collapses the dists->codes projections
    # into the join's output projection and the 16 subspace distances
    # re-evaluate 4x per CASE arm and once per joined query row.
    dists = emb.selectExpr("vec_id", *_spark_dist_exprs())
    code_struct = "struct(" + ", ".join(
        e.replace(f" AS code_{s}", "") for s, e in enumerate(_spark_code_exprs())
    ) + ")"
    code_df = dists.selectExpr(
        "vec_id", f"explode(array({code_struct})) AS _c"
    ).selectExpr(
        "vec_id",
        *[f"_c.col{s + 1} AS code_{s}" for s in range(_PQ_M)],
    )

    # query -> distance tables (small: _PQ_NQ rows x 16 doubles)
    qdt = emb.filter(F.col("vec_id") < _PQ_NQ).selectExpr(
        "vec_id AS q_id", *_spark_dist_exprs("dt")
    )

    adc_expr = " + ".join(
        f"(CASE code_{s} WHEN 0 THEN dt_{s}_0 WHEN 1 THEN dt_{s}_1"
        f" WHEN 2 THEN dt_{s}_2 ELSE dt_{s}_3 END)"
        for s in range(_PQ_M)
    )
    scored = (
        code_df.crossJoin(F.broadcast(qdt))
        .filter(F.col("vec_id") != F.col("q_id"))
        .selectExpr("q_id", "vec_id", f"({adc_expr}) AS adc")
    )
    return S.windowed_topk(scored, "q_id", "adc", "vec_id", 5, ascending=True).select(
        "q_id", "vec_id", F.round("adc", 6).alias("adc"), "rnk"
    )


_SQL_L2SQ = (
    "list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform(list_zip({a}, {b}), "
    "z -> (z[1]::DOUBLE - z[2]::DOUBLE) * (z[1]::DOUBLE - z[2]::DOUBLE))), "
    "(acc, x) -> acc + x)"
)


def _l2sq(a, b):
    """Squared L2 distance over array<float>, strictly sequential fold
    (DuckDB twin: _SQL_L2SQ) — engine-identical doubles."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


@register(
    "ann_pq_recall",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding AS q_vec
      FROM embeddings WHERE vec_id < {_PQ_NQ}
    ), brute AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.q_id
                 ORDER BY {_SQL_L2SQ.format(a='q.q_vec', b='e.embedding')}, e.vec_id
               ) AS rnk
        FROM q JOIN embeddings e ON e.vec_id != q.q_id
      ) WHERE rnk <= 5
    ), codes AS (
      {_pq_codes_sql()}
    ), qdt AS (
      SELECT vec_id AS q_id, {_pq_dt_sql()}
      FROM embeddings WHERE vec_id < {_PQ_NQ}
    ), adc AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id ORDER BY
                 {" + ".join(f"(CASE code_{s} WHEN 0 THEN dt_{s}_0 WHEN 1 THEN dt_{s}_1 WHEN 2 THEN dt_{s}_2 ELSE dt_{s}_3 END)" for s in range(_PQ_M))},
                 vec_id) AS rnk
        FROM codes CROSS JOIN qdt
        WHERE vec_id != q_id
      ) WHERE rnk <= 5
    )
    SELECT b.q_id,
           coalesce(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END), 0)::BIGINT
             AS n_hits,
           round(coalesce(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END), 0)
                 / 5.0, 6) AS recall_at_5
    FROM brute b LEFT JOIN adc a ON b.q_id = a.q_id AND b.vec_id = a.vec_id
    GROUP BY b.q_id
    """,
    doc="Recall@5 of PQ ADC search vs exact squared-L2 brute force on "
    "the same queries: quantifies what the 16-byte-code compression "
    "(M=4, K=4 — deliberately tiny codebooks) gives up, the same "
    "accuracy/cost contract ann_ivf_recall publishes for the IVF "
    "path.  In production the rerank stage re-scores the ADC top-k' "
    "(k' > k) with full-precision vectors, recovering most of the "
    "gap at k'/corpus cost.",
)
def ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding"))
    q = emb.filter(F.col("vec_id") < _PQ_NQ).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", _l2sq(F.col("q_vec"), F.col("embedding")).alias("d"))
    )
    brute = S.windowed_topk(scored, "q_id", "d", "vec_id", 5, ascending=True).select(
        "q_id", "vec_id"
    )
    adc = (
        ann_topk_pq_adc(spark, sf_dir)
        .select(
            F.col("q_id").alias("a_q_id"), F.col("vec_id").alias("a_vec_id")
        )
    )
    hits = brute.join(
        adc,
        (brute.q_id == adc.a_q_id) & (brute.vec_id == adc.a_vec_id),
        "left",
    )
    return hits.groupBy("q_id").agg(
        F.coalesce(
            F.sum(F.when(F.col("a_vec_id").isNotNull(), 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("n_hits"),
        F.round(
            F.coalesce(
                F.sum(F.when(F.col("a_vec_id").isNotNull(), 1).otherwise(0)),
                F.lit(0),
            )
            / 5.0,
            6,
        ).alias("recall_at_5"),
    )


# --- distributed Gram matrix (the PCA/whitening building block) --------

_GRAM_Q = 1000  # fixed-point quantization: exact integer arithmetic


@register(
    "emb_gram_matrix",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(round(x::DOUBLE * {_GRAM_Q}) AS BIGINT)) AS xq
      FROM embeddings
    ), cells AS (
      SELECT i.i AS i, j.j AS j, xq[i.i + 1] * xq[j.j + 1] AS prod
      FROM q, range(64) i(i), range(64) j(j)
      WHERE j.j >= i.i
    )
    SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
           CAST(sum(prod) AS BIGINT) AS gram_q
    FROM cells GROUP BY i, j
    """,
    doc="Distributed Gram matrix X'X over the embedding column — the "
    "building block of large-scale PCA/whitening (and ridge "
    "regression): each Arrow batch computes a PARTIAL 64x64 Gram with "
    "one numpy matmul, partials are summed by (i,j) — so 100 TB of "
    "vectors reduce to n_batches x 2080 cells on the wire, never a "
    "row-level shuffle, and the driver-side result is dimension^2 "
    "regardless of corpus size (the classic partial-aggregate "
    "linear-algebra pattern; tree-reduce at extreme partition counts). "
    "Vectors are fixed-point quantized (x1000) first, so the integer "
    "accumulation is EXACT and engine-order-independent — no float "
    "summation drift between Spark and the oracle.  Upper triangle "
    "only (Gram is symmetric).",
)
def emb_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    emb = fan_out(load_table(spark, sf_dir, "embeddings").select("embedding"))

    iu = None  # lazily built upper-triangle index pair cache

    def partial_grams(batch_iter):
        nonlocal iu
        for pdf in batch_iter:
            x = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            xq = np.rint(x * _GRAM_Q).astype("int64")
            g = xq.T @ xq  # one BLAS-shaped matmul per Arrow batch
            if iu is None:
                iu = np.triu_indices(g.shape[0])
            yield pd.DataFrame(
                {
                    "i": iu[0].astype("int32"),
                    "j": iu[1].astype("int32"),
                    "gram_q": g[iu],
                }
            )

    partials = emb.mapInPandas(partial_grams, "i int, j int, gram_q long")
    return partials.groupBy("i", "j").agg(
        F.sum("gram_q").cast("bigint").alias("gram_q")
    )


@register(
    "ann_topk_rerank",
    oracle=f"""
    WITH codes AS (
      {_pq_codes_sql()}
    ), qdt AS (
      SELECT vec_id AS q_id, {_pq_dt_sql()}
      FROM embeddings WHERE vec_id < {_PQ_NQ}
    ), shortlist AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id ORDER BY
                 {" + ".join(f"(CASE code_{s} WHEN 0 THEN dt_{s}_0 WHEN 1 THEN dt_{s}_1 WHEN 2 THEN dt_{s}_2 ELSE dt_{s}_3 END)" for s in range(_PQ_M))},
                 vec_id) AS rnk
        FROM codes CROSS JOIN qdt
        WHERE vec_id != q_id
      ) WHERE rnk <= 20
    ), reranked AS (
      SELECT s.q_id, s.vec_id,
             {sql_cosine('q.embedding', 'e.embedding')} AS cos
      FROM shortlist s
      JOIN embeddings q ON q.vec_id = s.q_id
      JOIN embeddings e ON e.vec_id = s.vec_id
    )
    SELECT q_id, vec_id, round(cos, 6) AS cos, rnk
    FROM (
      SELECT q_id, vec_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk
      FROM reranked
    )
    WHERE rnk <= 5
    """,
    doc="Two-stage retrieval — the production billion-scale ANN shape: "
    "stage 1 scans the corpus as 4-byte PQ codes and shortlists k'=20 "
    "per query by asymmetric distance (memory-resident, no "
    "full-precision vectors touched); stage 2 fetches ONLY the 20xQ "
    "shortlisted full vectors and reranks by exact cosine to emit "
    "top-5.  Rerank cost is k'/corpus of the brute-force scan, and "
    "the shortlist join is an equi-join on vec_id — this is what "
    "recovers most of the recall ann_pq_recall shows raw ADC gives "
    "up, at a fixed small cost.",
)
def ann_topk_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding"))
    dists = emb.selectExpr("vec_id", *_spark_dist_exprs())
    code_struct = "struct(" + ", ".join(
        e.replace(f" AS code_{s}", "") for s, e in enumerate(_spark_code_exprs())
    ) + ")"
    code_df = dists.selectExpr(
        "vec_id", f"explode(array({code_struct})) AS _c"
    ).selectExpr(
        "vec_id", *[f"_c.col{s + 1} AS code_{s}" for s in range(_PQ_M)]
    )
    qdt = emb.filter(F.col("vec_id") < _PQ_NQ).selectExpr(
        "vec_id AS q_id", *_spark_dist_exprs("dt")
    )
    adc_expr = " + ".join(
        f"(CASE code_{s} WHEN 0 THEN dt_{s}_0 WHEN 1 THEN dt_{s}_1"
        f" WHEN 2 THEN dt_{s}_2 ELSE dt_{s}_3 END)"
        for s in range(_PQ_M)
    )
    adc_scored = (
        code_df.crossJoin(F.broadcast(qdt))
        .filter(F.col("vec_id") != F.col("q_id"))
        .selectExpr("q_id", "vec_id", f"({adc_expr}) AS adc")
    )
    shortlist = S.windowed_topk(
        adc_scored, "q_id", "adc", "vec_id", 20, ascending=True
    ).select("q_id", "vec_id")
    qv = emb.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    reranked = (
        shortlist.join(F.broadcast(qv), "q_id")
        .join(emb, "vec_id")
        .select("q_id", "vec_id", cosine(F.col("q_vec"), F.col("embedding")).alias("cos"))
    )
    # rerank set is already ≤ 20×|Q| rows — the plain window is fine here
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        reranked.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("q_id", "vec_id", F.round("cos", 6).alias("cos"), "rnk")
    )


def _ivf_pq_sql() -> str:
    adc = " + ".join(
        f"(CASE code_{s} WHEN 0 THEN dt_{s}_0 WHEN 1 THEN dt_{s}_1"
        f" WHEN 2 THEN dt_{s}_2 ELSE dt_{s}_3 END)"
        for s in range(_PQ_M)
    )
    return f"""
    WITH codes AS (
      {_pq_codes_sql(", label")}
    ), qdt AS (
      SELECT vec_id AS q_id, label AS q_label, {_pq_dt_sql()}
      FROM embeddings WHERE vec_id < {_PQ_NQ}
    ), scored AS (
      SELECT q_id, vec_id, {adc} AS adc
      FROM codes JOIN qdt ON codes.label = qdt.q_label AND vec_id != q_id
    )
    SELECT q_id, vec_id, round(adc, 6) AS adc, rnk
    FROM (
      SELECT q_id, vec_id, adc,
             row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS rnk
      FROM scored
    )
    WHERE rnk <= 3
    """


@register(
    "ann_topk_ivf_pq",
    oracle=_ivf_pq_sql(),
    headline=True,
    doc="IVF+PQ composed search — the FAISS-IVFPQ layout, THE "
    "billion-scale production ANN index: the coarse quantizer (label "
    "column as cell id, stand-in for learned k-means cells as in "
    "ann_topk_ivf_bucketed) restricts candidates to the query's cell "
    "via an equi-join, and WITHIN the cell distances are asymmetric "
    "PQ lookups over 4-byte codes (ann_topk_pq_adc's scan), so the "
    "probe touches 1/n_cells of the corpus AND reads only codes, "
    "never float vectors.  At 100 TB the corpus is hash-partitioned "
    "(or bucketed on disk) by cell id, queries broadcast with their "
    "KB-scale distance tables, and the per-query top-k window's "
    "exchange is bounded by the WindowGroupLimit Partial pushdown "
    "like every other top-k here.",
)
def ann_topk_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(
        load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    )
    # corpus -> (cell, 4-byte PQ code); the explode barrier keeps the
    # 16 subspace distances evaluated once (see ann_topk_pq_adc)
    dists = emb.selectExpr("vec_id", "label", *_spark_dist_exprs())
    code_struct = "struct(" + ", ".join(
        e.replace(f" AS code_{s}", "") for s, e in enumerate(_spark_code_exprs())
    ) + ")"
    code_df = dists.selectExpr(
        "vec_id", "label", f"explode(array({code_struct})) AS _c"
    ).selectExpr(
        "vec_id", "label", *[f"_c.col{s + 1} AS code_{s}" for s in range(_PQ_M)]
    )
    qdt = emb.filter(F.col("vec_id") < _PQ_NQ).selectExpr(
        "vec_id AS q_id", "label AS q_label", *_spark_dist_exprs("dt")
    )
    adc_expr = " + ".join(
        f"(CASE code_{s} WHEN 0 THEN dt_{s}_0 WHEN 1 THEN dt_{s}_1"
        f" WHEN 2 THEN dt_{s}_2 ELSE dt_{s}_3 END)"
        for s in range(_PQ_M)
    )
    scored = (
        code_df.join(
            F.broadcast(qdt),
            (F.col("label") == F.col("q_label")) & (F.col("vec_id") != F.col("q_id")),
        )
        .selectExpr("q_id", "vec_id", f"({adc_expr}) AS adc")
    )
    return S.windowed_topk(scored, "q_id", "adc", "vec_id", 3, ascending=True).select(
        "q_id", "vec_id", F.round("adc", 6).alias("adc"), "rnk"
    )


@register(
    "ann_range_search",
    oracle=f"""
    WITH {_SQL_EMB_CANDIDATES}, hits AS (
      SELECT dup_id AS q_id, orig_id AS neighbor_id, round(cos, 6) AS cos
      FROM cand WHERE cos >= 0.4
    )
    SELECT q_id, neighbor_id, cos,
           count(*) OVER (PARTITION BY q_id) AS n_in_range
    FROM hits
    """,
    doc="Radius (range) similarity search: for each probe vector return "
    "ALL corpus neighbors with cosine >= 0.4, not a fixed top-k — the "
    "retrieval mode dedup and contamination sweeps need (every match "
    "matters, k is unknowable a priori).  Probes are the 50 perturbed "
    "duplicates; candidates come from the shared SRP-LSH bucket "
    "equi-join (own bucket + 8 hamming-1 probes), then the exact-"
    "cosine radius filter, then a per-probe window count so each hit "
    "row carries its neighborhood size.  Same algorithm both engines "
    "(LSH range search trades recall for never scanning the corpus); "
    "at 100 TB the only exchange after the bucket join partitions by "
    "probe id.",
)
def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = _emb_candidates(spark, sf_dir)
    hits = cand.filter(F.col("cos") >= 0.4).select(
        F.col("dup_id").alias("q_id"),
        F.col("orig_id").alias("neighbor_id"),
        F.round("cos", 6).alias("cos"),
    )
    w = Window.partitionBy("q_id")
    return hits.select(
        "q_id", "neighbor_id", "cos", F.count(F.lit(1)).over(w).alias("n_in_range")
    )



_KNN_K = 3
# Adaptive SRP width for the kNN-graph self-join: smallest nb in
# [8, 16] with 64 * 2^nb >= n, so the EXPECTED bucket size stays <= 64
# no matter the corpus size (pure integer comparison — no float log2
# whose 1-ulp engine differences could straddle a ceil boundary).
# 16 planes cover ~4.2M vectors; past that the cap costs recall, not
# correctness (documented below).
_KNN_BUCKET_TARGET = 64
_KNN_MAX_PLANES = 16


def _knn_planes(n: int) -> int:
    for nb in range(8, _KNN_MAX_PLANES):
        if n <= _KNN_BUCKET_TARGET * (1 << nb):
            return nb
    return _KNN_MAX_PLANES


# Planner-probe memo (r7 advisor): the corpus count behind the adaptive
# SRP width is parquet-metadata-cheap but still a Spark job; plan-only
# paths (tools/explain_audit.py, sweep loops) build the same query many
# times per process, so cache per sf_dir (test data is immutable).
_KNN_PLANES_CACHE: dict[str, int] = {}


def _knn_planes_for(spark: SparkSession, sf_dir: str) -> int:
    if sf_dir not in _KNN_PLANES_CACHE:
        _KNN_PLANES_CACHE[sf_dir] = _knn_planes(
            load_table(spark, sf_dir, "embeddings").count()
        )
    return _KNN_PLANES_CACHE[sf_dir]


# Session-scoped capped-bucket index (r11 verdict task 6; made DURABLE
# in r13 per the r12 verdict): the capped SRP table for hash table
# ``t`` — bucket assignment + the deterministic round-robin sub-split —
# is IDENTICAL across every kNN-family query (mutual L=1/L=4, directed
# multitable, the LOO label eval, the recall probe) and across
# bench.py's repeated runs.  r12 persisted it as an in-memory cache
# (AB_KNN_MEMO_r12: family 44.8s -> 32.7s); that amortized the BUILD
# but every candidate self-join still paid an exchange on (bucket,
# sub), and the sf10 scaling run (SCALING_r12) showed the cached form
# superlinear in the 1->10 decade (single-JVM GC pressure from the
# columnar cache).  r13 writes the index ONCE per (application, corpus,
# table) as a bucketed table on BOTH join keys — exactly the
# ann_index_bucketed_build shape — so every family self-join reads
# co-located, pre-sorted buckets with ZERO exchange and ZERO sort
# (plan-asserted), and consumers that only need ids prune the
# embedding column at the parquet scan.  This is literally the 100 TB
# deployment story ("a bucketed table written once and served to every
# query") running in-session.  repartition(1) before the write gives
# one file per bucket so the per-bucket sort survives into the SMJ; a
# 100 TB build would use more writer tasks and keep bucketing (no
# exchange) while giving up only the sort elision.  Keyed by
# applicationId: a restarted session gets a fresh build, and entries
# from a stopped app are never handed out again.  Table data lives in
# a per-process tempdir removed at exit.
_CAPPED_SRP_CACHE: dict[tuple[str, str, int], DataFrame] = {}
_SRP_INDEX_DIRS: list[str] = []


def _cleanup_srp_index_dirs() -> None:
    import shutil

    for d in _SRP_INDEX_DIRS:
        shutil.rmtree(d, ignore_errors=True)


def _capped_srp_table(spark: SparkSession, sf_dir: str, t: int) -> DataFrame:
    """The capped SRP bucket index for hash table ``t``: columns
    (vec_id, embedding, bucket, sub) with every (bucket, sub) cell
    bounded by _KNN_BUCKET_TARGET rows under any skew, served from a
    session-scoped bucketed table on (bucket, sub)."""
    import os

    key = (spark.sparkContext.applicationId, os.path.realpath(sf_dir), t)
    got = _CAPPED_SRP_CACHE.get(key)
    if got is not None:
        return got
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    nb = _knn_planes_for(spark, sf_dir)
    bucketed = emb.select(
        "vec_id",
        "embedding",
        S.srp_bucket(
            F.col("embedding"), n_planes=nb, plane_offset=t * _KNN_MAX_PLANES
        ).alias("bucket"),
    )
    # Deterministic bucket cap: clustered embeddings defeat SRP
    # widening (co-clustered vectors share sign patterns, so one
    # bucket can hold a whole cluster no matter how many planes
    # split the rest).  Round-robin each bucket into
    # ceil(size/target) sub-cells by vec_id — pure integer logic,
    # identical in the oracle — so candidate pairs are <= target*n
    # under ANY skew.  Recall knob, not correctness.  Bucket sizes
    # as a hash aggregate broadcast back (<= 2^16 rows) — NOT a
    # count() window, whose per-bucket sort would re-shuffle and
    # sort the whole corpus just to attach one integer.
    sizes = bucketed.groupBy("bucket").agg(F.count(F.lit(1)).alias("bsize"))
    capped = (
        bucketed.join(F.broadcast(sizes), "bucket")
        .withColumn(
            "sub",
            F.col("vec_id")
            % F.expr(f"(bsize + {_KNN_BUCKET_TARGET - 1}) div {_KNN_BUCKET_TARGET}"),
        )
        .drop("bsize")
    )
    import atexit
    import tempfile
    import uuid

    d = tempfile.mkdtemp(prefix=f"knn_srp_idx_t{t}_")
    if not _SRP_INDEX_DIRS:
        atexit.register(_cleanup_srp_index_dirs)
    _SRP_INDEX_DIRS.append(d)
    name = f"knn_srp_idx_{uuid.uuid4().hex[:12]}"
    nb_store = scale.srp_index_buckets(spark)
    (
        capped.select("vec_id", "embedding", "bucket", "sub")
        # ONE file per storage bucket keeps the per-bucket (bucket,
        # sub, vec_id) sort visible to the SMJ (sort-free reads).  r13:
        # repartition on the BUCKETING KEYS instead of repartition(1) —
        # repartition(n, cols) and bucketBy(n, cols) share the same
        # pmod(murmur3) placement, so writer task i holds exactly
        # storage bucket i: still one file per bucket, but the write
        # runs n-wide instead of single-threaded (the old form
        # serialized the whole index build through one task: ~22s of
        # the family's first-query latency at sf0.1).
        .repartition(nb_store, F.col("bucket"), F.col("sub"))
        .write.bucketBy(nb_store, "bucket", "sub")
        .sortBy("bucket", "sub", "vec_id")
        .option("path", f"{d}/idx")
        .saveAsTable(name)
    )
    idx = spark.table(name)
    _CAPPED_SRP_CACHE[key] = idx
    return idx


def _ensure_srp_tables(spark: SparkSession, sf_dir: str, ts: range) -> None:
    """Build any missing SRP index tables CONCURRENTLY (guide §2.6:
    independent jobs overlap; the FIFO scheduler back-fills each write
    job's straggler tail with the next table's tasks).  Each table is
    an independent write to its own name/dir, so the only shared state
    is the memo dict (per-t keys; GIL-atomic inserts)."""
    import os

    app = spark.sparkContext.applicationId
    real = os.path.realpath(sf_dir)
    missing = [t for t in ts if (app, real, t) not in _CAPPED_SRP_CACHE]
    if len(missing) <= 1:
        return
    _knn_planes_for(spark, sf_dir)  # warm the shared count memo once
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(missing)) as pool:
        list(pool.map(lambda t: _capped_srp_table(spark, sf_dir, t), missing))


@register(
    "ann_knn_graph_mutual",
    headline=True,
    oracle=f"""
    WITH nbits AS MATERIALIZED (
      SELECT LEAST({_KNN_MAX_PLANES}, MIN(t.nb)) AS nb
      FROM (SELECT count(*) AS n FROM embeddings) c, range(8, {_KNN_MAX_PLANES + 1}) t(nb)
      WHERE c.n <= {_KNN_BUCKET_TARGET} * (1 << t.nb) OR t.nb = {_KNN_MAX_PLANES}
    ), bucketed AS MATERIALIZED (
      SELECT vec_id, embedding,
             ({S.sql_srp_bits('embedding', _KNN_MAX_PLANES)})
               % (1 << (SELECT nb FROM nbits)) AS bucket
      FROM embeddings
    ), capped AS MATERIALIZED (
      SELECT vec_id, embedding, bucket,
             vec_id % ((count(*) OVER (PARTITION BY bucket)
                        + {_KNN_BUCKET_TARGET - 1}) // {_KNN_BUCKET_TARGET})
               AS sub
      FROM bucketed
    ), scored AS MATERIALIZED (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             {sql_cosine('a.embedding', 'b.embedding')} AS cos
      FROM capped a JOIN capped b
        ON a.bucket = b.bucket AND a.sub = b.sub
           AND a.vec_id != b.vec_id
    ), knn AS MATERIALIZED (
      SELECT src, dst, cos,
             row_number() OVER (PARTITION BY src
                                ORDER BY cos DESC, dst) AS rnk
      FROM scored
      QUALIFY rnk <= {_KNN_K}
    )
    SELECT e1.src, e1.dst, round(e1.cos, 6) AS cos,
           CAST(e1.rnk AS BIGINT) AS rnk_fwd,
           CAST(e2.rnk AS BIGINT) AS rnk_rev
    FROM knn e1 JOIN knn e2
      ON e1.src = e2.dst AND e1.dst = e2.src
    WHERE e1.src < e1.dst
    """,
    doc="Mutual k-nearest-neighbor graph over the embedding corpus — the "
    "candidate graph behind SemDeDup-style semantic clustering and "
    "graph-based corpus curation: every vector finds its top-"
    f"{_KNN_K} within its SRP-LSH bucket (deterministic hyperplanes, "
    "exact cosine, vec_id tie-break), and an edge survives only if BOTH "
    "endpoints rank each other (mutuality prunes hub/asymmetric edges, "
    "the standard kNN-graph cleanup).  Plan: the all-node candidate "
    "stage is a bucket equi-join (both sides shuffle on the bucket "
    "key — never all-pairs), per-node top-k is a bounded window, "
    "and the mutuality check is an equi-join of two k-bounded edge "
    "lists (<= k*n rows each).  Cosine is symmetric term-by-term in "
    "IEEE arithmetic, so forward and reverse scores agree bit-exactly "
    "and mutuality is well-defined.  The SRP width ADAPTS to corpus "
    "size (smallest nb in [8,16] with 64*2^nb >= n, from a "
    "metadata-cheap count — the r7 sf10 scaling run caught the fixed "
    "8-bit version going quadratic: n^2/256 candidate pairs ran 15+ "
    "minutes at 200k vectors where the adaptive width keeps EXPECTED "
    "bucket size <= 64; both engines derive nb by the same integer "
    "comparison, the oracle masking a 16-plane bucket to its nb low "
    "bits, which equals the nb-plane sum exactly since plane i "
    "contributes 2^i).  Width alone cannot bound the WORST bucket on "
    "clustered embeddings (co-clustered vectors share sign patterns — "
    "measured at sf10: max bucket 3418 at nb=12, 166M pairs), so each "
    "bucket is additionally round-robin sub-split into ceil(size/64) "
    "cells by vec_id (pure integer logic, engine-identical), making "
    "candidate pairs <= 64*n under ANY skew — the same bucket-cap "
    "discipline as dedup_lsh_bucket_cap.  Both knobs trade recall, "
    "not correctness — the standard LSH tradeoff.  At 100 TB: the "
    "edge list is k*n not n^2, and the final join keys are 16-byte "
    "id pairs.",
)
def ann_knn_graph_mutual(spark: SparkSession, sf_dir: str) -> DataFrame:
    return knn_graph_mutual(spark, sf_dir, n_tables=1)


def directed_knn_topk(
    spark: SparkSession, sf_dir: str, n_tables: int = 1
) -> DataFrame:
    """Directed approximate kNN edges (src, dst, cos, rnk <= k),
    parameterized by the number of independent SRP hash tables
    (r8 verdict task 4: the measured
    multitable recall lift — 0.80 -> 0.93 at sf1, worst probe
    0.0 -> 0.33, sweeps/KNN_RECALL_r08.json — promoted from the
    probe-side recall entry into the production graph).

    ``n_tables=1`` is the original single-table plan, bit-identical
    (candidates score inside the bucket join, no pair dedup).
    ``n_tables=L>1`` (r13 shape) scores inside EACH of the L bucketed
    self-joins (disjoint plane sets via ``plane_offset``; embeddings
    ride the co-located bucket read, so cosine costs no movement),
    unions the scored edges, and dedups cross-table duplicate pairs
    INSIDE the top-k window's sort via a lag() guard (identical
    (cos, dst) keys sort adjacent) — ONE pair-mass exchange total,
    replacing the pre-r13 distinct + two corpus equi-join shuffles.
    Candidate pairs are bounded at L * _KNN_BUCKET_TARGET * n under
    any skew, and a true neighbor pair is missed only if ALL L tables
    split it.  Measured effect at
    sf1 (sweeps/KNN_MUTUAL_L4_r09.json): L=4 returns exactly the
    jittered-twin graph (all edges cos 1.0) where L=1 admits ~6%
    spurious weak-mutual edges down to cos 0.17 — amplification
    buys production-graph PRECISION as well as the directed recall
    lift in sweeps/KNN_RECALL_r08.json."""
    from pyspark.sql import Window

    from ..functions import cosine

    if n_tables < 1:
        raise ValueError(f"n_tables must be >= 1, got {n_tables}")

    # The capped SRP index per table comes from the session-scoped memo
    # (_capped_srp_table): bucket cap + size-attach rationale documented
    # there; persisted once and shared by every kNN-family query.
    def _capped(t: int) -> DataFrame:
        return _capped_srp_table(spark, sf_dir, t)

    if n_tables == 1:
        capped = _capped(0)
        a, b = capped.alias("a"), capped.alias("b")
        # merge hint: the bucketed (bucket, sub) self-join must stay an
        # exchange-free sort-free SMJ — without it, a small corpus
        # would broadcast the whole index (BroadcastExchange + a second
        # decode of the scan), the plan that dies at 100 TB
        scored = a.join(
            b.hint("merge"),
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.sub") == F.col("b.sub"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        ).select(
            F.col("a.vec_id").alias("src"),
            F.col("b.vec_id").alias("dst"),
            cosine(F.col("a.embedding"), F.col("b.embedding")).alias("cos"),
        )
    else:
        # r13 optimization: score INSIDE each bucketed self-join — the
        # embeddings already ride the co-located bucket read, so the
        # exact cosine costs zero extra data movement there.  The old
        # shape (slim id-pair union -> DISTINCT -> two vec_id equi-joins
        # back to the corpus) shuffled+sorted the L*64*n pair mass
        # THREE more times (distinct exchange + both scoring SMJs, the
        # corpus side sorted twice) to avoid re-scoring cross-table
        # duplicate pairs — but duplicates are a small fraction (two
        # independent plane sets rarely co-bucket the same pair), so
        # recomputing their cosine is far cheaper than three exchanges
        # of everything.  Dedup instead happens inside the top-k
        # window's OWN sort: a duplicated pair has an identical
        # (cos, dst) key (same vectors -> bit-identical IEEE cosine),
        # so its copies are ADJACENT under (cos DESC, dst) within src
        # and a lag() guard drops them with no extra exchange and no
        # extra sort (both window functions share one partitioning).
        # At 100 TB this is strictly better: ONE pair-mass exchange
        # total, and the corpus never shuffles at all.  Results are
        # identical to dedup-then-score (oracle-checked): same pair
        # set, same cosines, same ranks.
        _ensure_srp_tables(spark, sf_dir, range(n_tables))
        per_table = []
        for t in range(n_tables):
            capped = _capped(t)
            a, b = capped.alias("a"), capped.alias("b")
            per_table.append(
                a.join(
                    b.hint("merge"),
                    (F.col("a.bucket") == F.col("b.bucket"))
                    & (F.col("a.sub") == F.col("b.sub"))
                    & (F.col("a.vec_id") != F.col("b.vec_id")),
                ).select(
                    F.col("a.vec_id").alias("src"),
                    F.col("b.vec_id").alias("dst"),
                    cosine(F.col("a.embedding"), F.col("b.embedding")).alias(
                        "cos"
                    ),
                )
            )
        scored = per_table[0]
        for df in per_table[1:]:
            scored = scored.unionAll(df)
        w = Window.partitionBy("src").orderBy(F.col("cos").desc(), F.col("dst"))
        # r13b (guide §2.3 — shuffle fewer rows): a rank() pre-filter
        # BELOW the dedup makes the optimizer push a Partial
        # WindowGroupLimit under the pair-mass exchange, so each map
        # task ships only its local top-cap rows per src instead of
        # the full L*target*n candidate mass (the lag guard alone
        # blocked that pushdown; SCALING_r13's 1->10 decade was paying
        # a ~L*target/cap-times-larger shuffle for rows the top-k then
        # discarded).  cap = (k-1)*L + 1 is exact, not heuristic: the
        # j-th DISTINCT pair has at most (j-1)*L strictly-better rows
        # (each better distinct pair appears at most once per table),
        # so every copy of every final top-k pair carries rank <= cap;
        # duplicate copies share identical (cos, dst) keys and thus
        # identical rank() values, so the filter keeps or drops all
        # copies together and the adjacency the lag guard relies on is
        # preserved.  Bit-identical final rows (oracle-checked).
        cap = (_KNN_K - 1) * n_tables + 1
        scored = (
            scored.withColumn("_r", F.rank().over(w))
            .filter(F.col("_r") <= cap)
            .drop("_r")
        )
        # two rows with equal (src, dst) are the same pair (one cosine
        # per vector pair), and duplicates sort adjacent — the lag
        # guard is exactly DISTINCT, evaluated inside the window sort
        scored = (
            scored.withColumn("_prev_dst", F.lag("dst").over(w))
            .filter(
                F.col("_prev_dst").isNull()
                | (F.col("_prev_dst") != F.col("dst"))
            )
            .drop("_prev_dst")
        )
    w = Window.partitionBy("src").orderBy(F.col("cos").desc(), F.col("dst"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= _KNN_K
    )


def knn_graph_mutual(
    spark: SparkSession, sf_dir: str, n_tables: int = 1
) -> DataFrame:
    """Mutual kNN graph: the directed top-k edges from
    :func:`directed_knn_topk` symmetrized onto canonical (min,max)
    keys — a pair seen from both endpoints is mutual.  See
    directed_knn_topk for the candidate/scoring machinery and its
    measured recall/precision lifts."""
    knn = directed_knn_topk(spark, sf_dir, n_tables)
    # Mutuality WITHOUT a self-join: a knn-join-knn plan recomputes the
    # candidate join + top-k window for BOTH sides (no common-subplan
    # reuse in Catalyst).  Instead symmetrize each directed edge onto
    # its canonical (min,max) key and groupBy: a pair seen from both
    # endpoints has count 2 — one extra shuffle of k*n 16-byte keys,
    # and the expensive stage runs exactly once.
    sym = knn.select(
        F.least("src", "dst").alias("a"),
        F.greatest("src", "dst").alias("b"),
        "cos",
        F.when(F.col("src") < F.col("dst"), F.col("rnk")).alias("fwd"),
        F.when(F.col("src") > F.col("dst"), F.col("rnk")).alias("rev"),
    )
    return (
        sym.groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).alias("n_dir"),
            F.round(F.max("cos"), 6).alias("cos"),
            F.max("fwd").cast("bigint").alias("rnk_fwd"),
            F.max("rev").cast("bigint").alias("rnk_rev"),
        )
        .filter(F.col("n_dir") == 2)
        .select(
            F.col("a").alias("src"),
            F.col("b").alias("dst"),
            "cos",
            "rnk_fwd",
            "rnk_rev",
        )
    )


@register(
    "ann_knn_graph_recall",
    oracle=f"""
    WITH nbits AS MATERIALIZED (
      SELECT LEAST({_KNN_MAX_PLANES}, MIN(t.nb)) AS nb
      FROM (SELECT count(*) AS n FROM embeddings) c, range(8, {_KNN_MAX_PLANES + 1}) t(nb)
      WHERE c.n <= {_KNN_BUCKET_TARGET} * (1 << t.nb) OR t.nb = {_KNN_MAX_PLANES}
    ), bucketed AS MATERIALIZED (
      SELECT vec_id, embedding,
             ({S.sql_srp_bits('embedding', _KNN_MAX_PLANES)})
               % (1 << (SELECT nb FROM nbits)) AS bucket
      FROM embeddings
    ), capped AS MATERIALIZED (
      SELECT vec_id, embedding, bucket,
             vec_id % ((count(*) OVER (PARTITION BY bucket)
                        + {_KNN_BUCKET_TARGET - 1}) // {_KNN_BUCKET_TARGET})
               AS sub
      FROM bucketed
    ), approx AS MATERIALIZED (
      SELECT src, dst FROM (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               row_number() OVER (PARTITION BY a.vec_id
                 ORDER BY {sql_cosine('a.embedding', 'b.embedding')} DESC, b.vec_id)
                 AS rnk
        FROM capped a JOIN capped b
          ON a.bucket = b.bucket AND a.sub = b.sub AND a.vec_id != b.vec_id
        WHERE a.vec_id < {_N_QUERIES}
      ) WHERE rnk <= {_KNN_K}
    ), exact AS (
      SELECT src, dst FROM (
        SELECT q.vec_id AS src, e.vec_id AS dst,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {sql_cosine('q.embedding', 'e.embedding')} DESC, e.vec_id)
                 AS rnk
        FROM embeddings q JOIN embeddings e ON e.vec_id != q.vec_id
        WHERE q.vec_id < {_N_QUERIES}
      ) WHERE rnk <= {_KNN_K}
    )
    SELECT x.src,
           coalesce(sum(CASE WHEN a.dst IS NOT NULL THEN 1 ELSE 0 END), 0)::BIGINT
             AS n_hits,
           round(coalesce(sum(CASE WHEN a.dst IS NOT NULL THEN 1 ELSE 0 END), 0)
                 / {_KNN_K}.0, 6) AS recall_at_k
    FROM exact x LEFT JOIN approx a ON x.src = a.src AND x.dst = a.dst
    GROUP BY x.src
    """,
    doc=f"Measured recall of the capped SRP-bucketed kNN-graph candidate "
    f"stage (ann_knn_graph_mutual's exact pipeline: adaptive SRP width + "
    f"{_KNN_BUCKET_TARGET}-per-bucket round-robin sub-split) against the "
    f"exact full-corpus top-{_KNN_K} for {_N_QUERIES} probe nodes — the "
    "r7 verdict's gap: the bucket cap 'trades recall, not correctness' "
    "was asserted but unmeasured, unlike MinHash (dedup_lsh_recall) and "
    "IVF/PQ (ann_ivf_recall/ann_pq_recall).  Probe-side directed edges "
    "only (exact MUTUAL recall would need full-corpus reverse top-k — "
    "quadratic); the sub-split and bucket assignment still come from "
    "the WHOLE corpus, so the approximate side is the production graph, "
    "not a probe-only rebuild.  Committed recall numbers per round in "
    "sweeps/KNN_RECALL_r08.json.",
)
def ann_knn_graph_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    # plane_offset=0 == table 0 of the shared session-scoped index
    # (srp_bucket's default offset is 0 — pinned by
    # test_srp_plane_offset_zero_is_identity).
    capped = _capped_srp_table(spark, sf_dir, 0)
    from ..functions import cosine

    a = capped.filter(F.col("vec_id") < _N_QUERIES).alias("a")
    b = capped.alias("b")
    scored = a.join(
        b.hint("merge"),
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.sub") == F.col("b.sub"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("src"),
        F.col("b.vec_id").alias("dst"),
        cosine(F.col("a.embedding"), F.col("b.embedding")).alias("cos"),
    )
    w = Window.partitionBy("src").orderBy(F.col("cos").desc(), F.col("dst"))
    approx = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _KNN_K)
        .select(F.col("src").alias("a_src"), F.col("dst").alias("a_dst"))
    )
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = S.brute_force_topk(q, emb.select("vec_id", "embedding"), k=_KNN_K).select(
        F.col("q_id").alias("src"), F.col("vec_id").alias("dst")
    )
    hits = exact.join(
        approx,
        (exact.src == approx.a_src) & (exact.dst == approx.a_dst),
        "left",
    )
    found = F.sum(F.when(F.col("a_dst").isNotNull(), 1).otherwise(0))
    return hits.groupBy("src").agg(
        F.coalesce(found, F.lit(0)).cast("long").alias("n_hits"),
        F.round(F.coalesce(found, F.lit(0)) / float(_KNN_K), 6).alias("recall_at_k"),
    )


_KNN_TABLES = 4


def _sql_knn_table_pairs(t: int, probe_only: bool = True) -> str:
    """One OR-amplification hash table's candidate pairs:
    plane set t*MAX_PLANES..(t+1)*MAX_PLANES-1, masked to the adaptive
    nb low bits, capped by the same round-robin sub-split as the
    single-table graph.  Plain CTEs on purpose (r8 triangle-oracle
    find: MATERIALIZED kills stats propagation in DuckDB 1.0; the
    probe filter then pushes into the a-side so only 20 rows hash on
    that side).  ``probe_only=False`` drops the probe-set filter —
    the all-node form the production multitable mutual graph uses."""
    bits = S.sql_srp_bits(
        "embedding", _KNN_MAX_PLANES, plane_offset=t * _KNN_MAX_PLANES
    )
    probe = f"WHERE a.vec_id < {_N_QUERIES}" if probe_only else ""
    return f"""bucketed{t} AS (
      SELECT vec_id,
             ({bits}) % (1 << (SELECT nb FROM nbits)) AS bucket
      FROM embeddings
    ), capped{t} AS (
      SELECT vec_id, bucket,
             vec_id % ((count(*) OVER (PARTITION BY bucket)
                        + {_KNN_BUCKET_TARGET - 1}) // {_KNN_BUCKET_TARGET})
               AS sub
      FROM bucketed{t}
    ), pairs{t} AS (
      SELECT a.vec_id AS src, b.vec_id AS dst
      FROM capped{t} a JOIN capped{t} b
        ON a.bucket = b.bucket AND a.sub = b.sub AND a.vec_id != b.vec_id
      {probe}
    )"""


@register(
    "ann_knn_graph_multitable",
    oracle=f"""
    WITH nbits AS MATERIALIZED (
      SELECT LEAST({_KNN_MAX_PLANES}, MIN(t.nb)) AS nb
      FROM (SELECT count(*) AS n FROM embeddings) c, range(8, {_KNN_MAX_PLANES + 1}) t(nb)
      WHERE c.n <= {_KNN_BUCKET_TARGET} * (1 << t.nb) OR t.nb = {_KNN_MAX_PLANES}
    ), {", ".join(_sql_knn_table_pairs(t) for t in range(_KNN_TABLES))},
    cand AS (
      SELECT DISTINCT src, dst FROM (
        {" UNION ALL ".join(f"SELECT src, dst FROM pairs{t}" for t in range(_KNN_TABLES))}
      )
    ), approx AS (
      SELECT src, dst FROM (
        SELECT c.src, c.dst,
               row_number() OVER (PARTITION BY c.src
                 ORDER BY {sql_cosine('qa.embedding', 'qb.embedding')} DESC, c.dst)
                 AS rnk
        FROM cand c
        JOIN embeddings qa ON qa.vec_id = c.src
        JOIN embeddings qb ON qb.vec_id = c.dst
      ) WHERE rnk <= {_KNN_K}
    ), exact AS (
      SELECT src, dst FROM (
        SELECT q.vec_id AS src, e.vec_id AS dst,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {sql_cosine('q.embedding', 'e.embedding')} DESC, e.vec_id)
                 AS rnk
        FROM embeddings q JOIN embeddings e ON e.vec_id != q.vec_id
        WHERE q.vec_id < {_N_QUERIES}
      ) WHERE rnk <= {_KNN_K}
    )
    SELECT x.src,
           coalesce(sum(CASE WHEN a.dst IS NOT NULL THEN 1 ELSE 0 END), 0)::BIGINT
             AS n_hits,
           round(coalesce(sum(CASE WHEN a.dst IS NOT NULL THEN 1 ELSE 0 END), 0)
                 / {_KNN_K}.0, 6) AS recall_at_k
    FROM exact x LEFT JOIN approx a ON x.src = a.src AND x.dst = a.dst
    GROUP BY x.src
    """,
    doc=f"OR-amplified kNN-graph candidates: {_KNN_TABLES} INDEPENDENT "
    "SRP hash tables (disjoint deterministic plane sets via "
    "plane_offset), per-table bucket equi-join + the same "
    f"{_KNN_BUCKET_TARGET}-cap sub-split, candidates unioned and "
    "deduped before one exact-cosine scoring pass — the standard LSH "
    "recall knob that ann_knn_graph_recall's committed numbers "
    "motivate (single-table recall@3 was 0.10 at sf0.1 for "
    "weakly-correlated neighbors; a miss needs ALL L tables to split "
    "the pair, so recall rises ~1-(1-p)^L at L× candidate cost).  "
    "Same probe-side recall measurement as ann_knn_graph_recall so "
    "the two entries are directly comparable.  100 TB: candidate "
    f"pairs <= {_KNN_TABLES}*{_KNN_BUCKET_TARGET}*n under any skew "
    "(L capped tables), dedup is a distinct on 16-byte id pairs, "
    "scoring joins broadcast the probe-bounded pair list.",
)
def ann_knn_graph_multitable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import cosine

    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    per_table = []
    for t in range(_KNN_TABLES):
        # Shared session-scoped capped index (columnar cache prunes the
        # embedding column — this consumer only reads ids/buckets).
        capped = _capped_srp_table(spark, sf_dir, t).select("vec_id", "bucket", "sub")
        a = capped.filter(F.col("vec_id") < _N_QUERIES).alias("a")
        b = capped.alias("b")
        per_table.append(
            a.join(
                b.hint("merge"),
                (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.sub") == F.col("b.sub"))
                & (F.col("a.vec_id") != F.col("b.vec_id")),
            ).select(
                F.col("a.vec_id").alias("src"), F.col("b.vec_id").alias("dst")
            )
        )
    cand = per_table[0]
    for df in per_table[1:]:
        cand = cand.unionAll(df)
    cand = cand.distinct()
    qa = emb.select(F.col("vec_id").alias("src"), F.col("embedding").alias("q_vec"))
    qb = emb.select(F.col("vec_id").alias("dst"), F.col("embedding").alias("e_vec"))
    # both scoring joins keep the pair list (<= probes * L * target rows)
    # as the broadcast build side — the corpus is probed, never shuffled
    scored = (
        qb.join(F.broadcast(F.broadcast(cand).join(qa, "src")), "dst")
        .select("src", "dst", cosine(F.col("q_vec"), F.col("e_vec")).alias("cos"))
    )
    w = Window.partitionBy("src").orderBy(F.col("cos").desc(), F.col("dst"))
    approx = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _KNN_K)
        .select(F.col("src").alias("a_src"), F.col("dst").alias("a_dst"))
    )
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = S.brute_force_topk(q, emb.select("vec_id", "embedding"), k=_KNN_K).select(
        F.col("q_id").alias("src"), F.col("vec_id").alias("dst")
    )
    hits = exact.join(
        approx,
        (exact.src == approx.a_src) & (exact.dst == approx.a_dst),
        "left",
    )
    found = F.sum(F.when(F.col("a_dst").isNotNull(), 1).otherwise(0))
    return hits.groupBy("src").agg(
        F.coalesce(found, F.lit(0)).cast("long").alias("n_hits"),
        F.round(F.coalesce(found, F.lit(0)) / float(_KNN_K), 6).alias("recall_at_k"),
    )


@register(
    "ann_knn_graph_mutual_multitable",
    oracle=f"""
    WITH nbits AS MATERIALIZED (
      SELECT LEAST({_KNN_MAX_PLANES}, MIN(t.nb)) AS nb
      FROM (SELECT count(*) AS n FROM embeddings) c, range(8, {_KNN_MAX_PLANES + 1}) t(nb)
      WHERE c.n <= {_KNN_BUCKET_TARGET} * (1 << t.nb) OR t.nb = {_KNN_MAX_PLANES}
    ), {", ".join(_sql_knn_table_pairs(t, probe_only=False) for t in range(_KNN_TABLES))},
    cand AS (
      SELECT DISTINCT src, dst FROM (
        {" UNION ALL ".join(f"SELECT src, dst FROM pairs{t}" for t in range(_KNN_TABLES))}
      )
    ), scored AS (
      SELECT c.src, c.dst,
             {sql_cosine('qa.embedding', 'qb.embedding')} AS cos
      FROM cand c
      JOIN embeddings qa ON qa.vec_id = c.src
      JOIN embeddings qb ON qb.vec_id = c.dst
    ), knn AS MATERIALIZED (
      -- MATERIALIZED: the mutuality join references knn twice; a plain
      -- CTE would re-execute the whole 4-table candidate + scoring
      -- pipeline per reference (the _SQL_CO_ORDER_EDGES hazard).  The
      -- downstream is a self-join on 8-byte keys, so the DuckDB-1.0
      -- stats-through-CTE penalty does not bite here.
      SELECT src, dst, cos,
             row_number() OVER (PARTITION BY src
                                ORDER BY cos DESC, dst) AS rnk
      FROM scored
      QUALIFY rnk <= {_KNN_K}
    )
    SELECT e1.src, e1.dst, round(e1.cos, 6) AS cos,
           CAST(e1.rnk AS BIGINT) AS rnk_fwd,
           CAST(e2.rnk AS BIGINT) AS rnk_rev
    FROM knn e1 JOIN knn e2
      ON e1.src = e2.dst AND e1.dst = e2.src
    WHERE e1.src < e1.dst
    """,
    doc=f"The PRODUCTION multitable mutual kNN graph (r8 verdict task 4): "
    f"ann_knn_graph_mutual's builder with n_tables={_KNN_TABLES} — "
    f"{_KNN_TABLES} independent SRP tables (disjoint plane sets via "
    "plane_offset) generate candidate id-pairs, the union is deduped "
    "on the 16-byte pair key, ONE exact-cosine pass scores each pair "
    "once, and per-node top-k + the mutuality groupBy run over the "
    "amplified candidate set — so the measured recall lift "
    "(sweeps/KNN_RECALL_r08.json: 0.80 -> 0.93 at sf1, worst probe "
    "0.0 -> 0.33) now reaches the graph downstream consumers use, not "
    "just the probe-side measurement entry.  An edge is mutual iff "
    "both endpoints rank each other in THEIR amplified top-k, so "
    "L>1 genuinely changes mutuality (more candidates can displace "
    f"weaker neighbors).  100 TB: candidate pairs <= {_KNN_TABLES}*"
    f"{_KNN_BUCKET_TARGET}*n under any skew; dedup + scoring joins are "
    "hash equi-joins on 8/16-byte keys; the corpus shuffles by vec_id "
    "exactly twice for scoring (never all-pairs).",
)
def ann_knn_graph_mutual_multitable(spark: SparkSession, sf_dir: str) -> DataFrame:
    return knn_graph_mutual(spark, sf_dir, n_tables=_KNN_TABLES)


_MRL_DIM = 16  # truncated (Matryoshka) search dimension; full dim is 64


@register(
    "ann_matryoshka_recall",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding AS q_vec
      FROM embeddings WHERE vec_id < {_N_QUERIES}
    ), brute AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.q_id
                 ORDER BY {sql_cosine('q.q_vec', 'e.embedding')} DESC, e.vec_id
               ) AS rnk
        FROM q JOIN embeddings e ON e.vec_id != q.q_id
      ) WHERE rnk <= 5
    ), trunc AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.q_id
                 ORDER BY {sql_cosine(f'(q.q_vec[1:{_MRL_DIM}])', f'(e.embedding[1:{_MRL_DIM}])')} DESC,
                          e.vec_id
               ) AS rnk
        FROM q JOIN embeddings e ON e.vec_id != q.q_id
      ) WHERE rnk <= 5
    )
    SELECT b.q_id,
           coalesce(sum(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END), 0)::BIGINT
             AS n_hits,
           round(coalesce(sum(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END), 0)
                 / 5.0, 6) AS recall_at_5
    FROM brute b LEFT JOIN trunc t ON b.q_id = t.q_id AND b.vec_id = t.vec_id
    GROUP BY b.q_id
    """,
    doc=f"Matryoshka retrieval recall (Kusupati et al. 2022, public): "
    f"search with only the FIRST {_MRL_DIM} of 64 dimensions (array "
    "slice, no re-embedding) and measure recall@5 against the full-dim "
    "exact top-5 on the same 20 queries — the accuracy contract behind "
    f"the {64 // _MRL_DIM}x compute/memory cut a truncated-dim first "
    "pass buys.  Same bounded plan family as ann_ivf_recall: broadcast "
    "queries, one corpus scan per arm, WindowGroupLimit-bounded top-k "
    "exchanges, then an equi-join of two 20x5-row sets.  100 TB: the "
    "truncated arm is the cheap shortlist stage (pair it with "
    "ann_topk_rerank's exact rerank); recall is the dial that sizes "
    "the shortlist.",
)
def ann_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    brute = S.brute_force_topk(q, emb.select("vec_id", "embedding"), k=5).select(
        "q_id", "vec_id"
    )
    q_t = q.select("q_id", F.slice("q_vec", 1, _MRL_DIM).alias("q_vec"))
    emb_t = emb.select("vec_id", F.slice("embedding", 1, _MRL_DIM).alias("embedding"))
    trunc = (
        S.brute_force_topk(q_t, emb_t, k=5)
        .select(F.col("q_id").alias("t_q_id"), F.col("vec_id").alias("t_vec_id"))
    )
    hits = brute.join(
        trunc,
        (brute.q_id == trunc.t_q_id) & (brute.vec_id == trunc.t_vec_id),
        "left",
    )
    hit = F.sum(F.when(F.col("t_vec_id").isNotNull(), 1).otherwise(0))
    return hits.groupBy("q_id").agg(
        F.coalesce(hit, F.lit(0)).cast("long").alias("n_hits"),
        F.round(F.coalesce(hit, F.lit(0)) / 5.0, 6).alias("recall_at_5"),
    )


@register(
    "emb_hard_negative_mining",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding AS q_vec, label AS q_label
      FROM embeddings WHERE vec_id < {_N_QUERIES}
    ), scored AS (
      SELECT q.q_id, e.vec_id, (e.label = q.q_label) AS same_label,
             {sql_cosine('q.q_vec', 'e.embedding')} AS cos
      FROM q JOIN embeddings e ON e.vec_id != q.q_id
    ), best AS (
      SELECT q_id, vec_id, same_label, cos FROM (
        SELECT q_id, vec_id, same_label, cos,
               row_number() OVER (PARTITION BY q_id, same_label
                                  ORDER BY cos DESC, vec_id) AS rnk
        FROM scored
      ) WHERE rnk = 1
    )
    SELECT q_id,
           max(CASE WHEN same_label THEN vec_id END) AS pos_id,
           round(max(CASE WHEN same_label THEN cos END), 6) AS pos_cos,
           max(CASE WHEN NOT same_label THEN vec_id END) AS neg_id,
           round(max(CASE WHEN NOT same_label THEN cos END), 6) AS neg_cos,
           round(max(CASE WHEN same_label THEN cos END)
                 - max(CASE WHEN NOT same_label THEN cos END), 6) AS margin
    FROM best GROUP BY q_id
    """,
    doc="Contrastive hard-negative mining (the DPR/SimCSE training-data "
    "primitive): for each anchor, the nearest SAME-label vector (the "
    "positive) and the nearest DIFFERENT-label vector (the hard "
    "negative) by exact cosine, plus the margin between them — "
    "near-zero or negative margins flag label noise and the pairs a "
    "contrastive batch builder should sample.  One scored corpus scan "
    "feeds both arms via a (q_id, same_label)-partitioned top-1 window "
    "(WindowGroupLimit-bounded), then a 2-rows-per-anchor conditional "
    "pivot.  100 TB: swap the broadcast-anchor scan for the SRP-LSH "
    "bucketed candidate stage (ann_filtered_topk's path) — mining is "
    "per-anchor top-1, so bucket recall, not corpus size, is the dial.",
)
def emb_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("label").alias("q_label"),
    )
    pairs = emb.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
    scored = pairs.select(
        "q_id",
        "vec_id",
        (F.col("label") == F.col("q_label")).alias("same_label"),
        cosine(F.col("q_vec"), F.col("embedding")).alias("cos"),
    )
    w = Window.partitionBy("q_id", "same_label").orderBy(
        F.col("cos").desc(), F.col("vec_id")
    )
    best = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .drop("rnk")
    )
    pos_cos = F.max(F.when(F.col("same_label"), F.col("cos")))
    neg_cos = F.max(F.when(~F.col("same_label"), F.col("cos")))
    return best.groupBy("q_id").agg(
        F.max(F.when(F.col("same_label"), F.col("vec_id"))).alias("pos_id"),
        F.round(pos_cos, 6).alias("pos_cos"),
        F.max(F.when(~F.col("same_label"), F.col("vec_id"))).alias("neg_id"),
        F.round(neg_cos, 6).alias("neg_cos"),
        F.round(pos_cos - neg_cos, 6).alias("margin"),
    )


@register(
    "ann_eval_mrr_ndcg",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding AS q_vec, label AS q_label
      FROM embeddings WHERE vec_id < {_N_QUERIES}
    ), brute AS (
      SELECT q_id, vec_id, rnk FROM (
        SELECT q.q_id, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.q_id
                 ORDER BY {sql_cosine('q.q_vec', 'e.embedding')} DESC, e.vec_id
               ) AS rnk
        FROM q JOIN embeddings e ON e.vec_id != q.q_id
      ) WHERE rnk <= 5
    ), sys AS (
      SELECT q_id, vec_id, rnk FROM (
        SELECT q.q_id, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.q_id
                 ORDER BY {sql_cosine('q.q_vec', 'e.embedding')} DESC, e.vec_id
               ) AS rnk
        FROM q JOIN embeddings e
          ON e.label = q.q_label AND e.vec_id != q.q_id
      ) WHERE rnk <= 5
    ), graded AS (
      SELECT s.q_id, s.rnk,
             coalesce(6 - b.rnk, 0)::BIGINT AS rel
      FROM sys s LEFT JOIN brute b
        ON b.q_id = s.q_id AND b.vec_id = s.vec_id
    ), per_q AS (
      SELECT q_id,
             min(CASE WHEN rel > 0 THEN rnk END) AS first_hit_rank,
             CAST(sum(CAST(round(1000000 * rel / log2(rnk + 1.0)) AS BIGINT))
                  AS BIGINT) AS dcg_microbits
      FROM graded GROUP BY q_id
    ), ideal AS (
      SELECT CAST(sum(CAST(round(1000000 * (6 - i) / log2(i + 1.0)) AS BIGINT))
                  AS BIGINT) AS idcg_microbits
      FROM range(1, 6) t(i)
    )
    SELECT p.q_id,
           CAST(coalesce(p.first_hit_rank, 0) AS BIGINT) AS first_hit_rank,
           round(CASE WHEN p.first_hit_rank IS NULL THEN 0.0
                      ELSE 1.0 / p.first_hit_rank END, 6) AS mrr,
           p.dcg_microbits,
           i.idcg_microbits,
           p.dcg_microbits::DOUBLE / i.idcg_microbits::DOUBLE AS ndcg_at_5
    FROM per_q p CROSS JOIN ideal i
    """,
    doc="Ranking-aware retrieval evaluation — MRR and NDCG@5 of the "
    "IVF(nprobe=1) system ranking against the exact brute-force top-5 "
    "as graded ground truth (rel = 6 - exact_rank, 0 for misses): the "
    "two metrics recall@k cannot express — WHERE in the list the "
    "relevant items land (ann_ivf_recall counts hits; this scores "
    "their positions).  Per-position DCG terms rel/log2(rank+1) are "
    "scaled to exact integer micro-bits BEFORE summation and NDCG "
    "ships as the unrounded quotient of the two integer sums (the "
    "corpus_source_jsd half-boundary lesson: rounding a ratio of "
    "integers at a fixed decimal lands exactly on rounding-mode "
    "disagreements).  Same bounded plan family as ann_ivf_recall — "
    "broadcast queries, WindowGroupLimit-bounded top-k arms, then "
    "20x5-row joins.  100 TB: evaluation cost is queries x k, "
    "corpus-independent after the two retrieval arms.",
)
def ann_eval_mrr_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("label").alias("q_label"),
    )
    brute = S.brute_force_topk(q, emb.select("vec_id", "embedding"), k=5).select(
        F.col("q_id").alias("b_q_id"), F.col("vec_id").alias("b_vec_id"),
        F.col("rnk").alias("b_rnk"),
    )
    sys_r = S.ivf_topk(q, emb.select("vec_id", "embedding", "label"), k=5).select(
        "q_id", "vec_id", "rnk"
    )
    graded = sys_r.join(
        brute,
        (sys_r.q_id == brute.b_q_id) & (sys_r.vec_id == brute.b_vec_id),
        "left",
    ).select(
        "q_id",
        "rnk",
        F.coalesce(F.lit(6) - F.col("b_rnk"), F.lit(0)).cast("long").alias("rel"),
    )
    per_q = graded.groupBy("q_id").agg(
        F.min(F.when(F.col("rel") > 0, F.col("rnk"))).alias("first_hit_rank"),
        F.sum(
            F.round(
                F.lit(1_000_000) * F.col("rel") / F.log2(F.col("rnk") + F.lit(1.0))
            ).cast("long")
        ).cast("long").alias("dcg_microbits"),
    )
    idcg = sum(
        round(1_000_000 * (6 - i) / math.log2(i + 1.0)) for i in range(1, 6)
    )
    return per_q.select(
        "q_id",
        F.coalesce(F.col("first_hit_rank"), F.lit(0)).cast("long").alias(
            "first_hit_rank"
        ),
        F.round(
            F.when(
                F.col("first_hit_rank").isNotNull(),
                F.lit(1.0) / F.col("first_hit_rank"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("mrr"),
        "dcg_microbits",
        F.lit(int(idcg)).cast("long").alias("idcg_microbits"),
        (F.col("dcg_microbits").cast("double") / F.lit(float(idcg))).alias(
            "ndcg_at_5"
        ),
    )


@register(
    "emb_knn_loo_label_eval",
    oracle=f"""
    WITH nbits AS MATERIALIZED (
      SELECT LEAST({_KNN_MAX_PLANES}, MIN(t.nb)) AS nb
      FROM (SELECT count(*) AS n FROM embeddings) c, range(8, {_KNN_MAX_PLANES + 1}) t(nb)
      WHERE c.n <= {_KNN_BUCKET_TARGET} * (1 << t.nb) OR t.nb = {_KNN_MAX_PLANES}
    ), {", ".join(_sql_knn_table_pairs(t, probe_only=False) for t in range(_KNN_TABLES))},
    cand AS (
      SELECT DISTINCT src, dst FROM (
        {" UNION ALL ".join(f"SELECT src, dst FROM pairs{t}" for t in range(_KNN_TABLES))}
      )
    ), scored AS (
      SELECT c.src, c.dst,
             {sql_cosine('qa.embedding', 'qb.embedding')} AS cos
      FROM cand c
      JOIN embeddings qa ON qa.vec_id = c.src
      JOIN embeddings qb ON qb.vec_id = c.dst
    ), knn AS MATERIALIZED (
      SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src
                                  ORDER BY cos DESC, dst) AS rnk
        FROM scored
      ) WHERE rnk <= {_KNN_K}
    ), votes AS (
      SELECT k.src, e.label AS nbr_label, count(*) AS n_votes
      FROM knn k JOIN embeddings e ON e.vec_id = k.dst
      GROUP BY k.src, e.label
    ), pred AS (
      SELECT src, nbr_label AS pred_label FROM (
        SELECT src, nbr_label,
               row_number() OVER (PARTITION BY src
                                  ORDER BY n_votes DESC, nbr_label) AS r
        FROM votes
      ) WHERE r = 1
    )
    SELECT e.label,
           count(*) AS n_eval,
           CAST(sum(CASE WHEN p.pred_label = e.label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           round(sum(CASE WHEN p.pred_label = e.label THEN 1 ELSE 0 END)
                 / count(*), 6) AS acc
    FROM pred p JOIN embeddings e ON e.vec_id = p.src
    GROUP BY e.label
    """,
    doc="Leave-one-out kNN label classification — the standard "
    "embedding-quality probe (does the embedding space encode the "
    "labels?): every vector is classified by the majority label of "
    f"its approximate top-{_KNN_K} neighbors (itself excluded by the "
    "candidate join's vec_id inequality), reported as per-label "
    "accuracy.  The neighbor machinery IS directed_knn_topk with "
    f"L={_KNN_TABLES} OR-amplified SRP tables — the production graph "
    "path, so this entry also eval-exercises that machinery end to "
    "end.  Majority ties break to the smaller label; vectors whose "
    "candidate set is empty are excluded from n_eval on both sides.  "
    f"100 TB: candidate pairs <= {_KNN_TABLES}*{_KNN_BUCKET_TARGET}*n "
    "under any skew, votes aggregate map-side on (src, label), and "
    "the output is one row per label.",
)
def emb_knn_loo_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    knn = directed_knn_topk(spark, sf_dir, n_tables=_KNN_TABLES)
    lbl = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    votes = (
        knn.join(
            lbl.select(
                F.col("vec_id").alias("dst"), F.col("label").alias("nbr_label")
            ),
            "dst",
        )
        .groupBy("src", "nbr_label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    wv = Window.partitionBy("src").orderBy(
        F.col("n_votes").desc(), F.col("nbr_label").asc()
    )
    pred = (
        votes.withColumn("r", F.row_number().over(wv))
        .filter(F.col("r") == 1)
        .select("src", F.col("nbr_label").alias("pred_label"))
    )
    own = lbl.select(F.col("vec_id").alias("src"), "label")
    joined = pred.join(own, "src")
    correct = F.sum(
        F.when(F.col("pred_label") == F.col("label"), 1).otherwise(0)
    )
    return joined.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        correct.cast("bigint").alias("n_correct"),
        F.round(correct / F.count(F.lit(1)), 6).alias("acc"),
    )
