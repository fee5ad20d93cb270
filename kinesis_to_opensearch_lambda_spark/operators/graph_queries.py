"""Oracle-checked graph queries: random-walk importance (PageRank) over
the bipartite user-item interaction graph derived from the events table.

The oracle unrolls the same fixed number of integer-exact iterations as
CTE stages, so Spark and DuckDB agree bit-for-bit (see operators.graph
for the micro-unit arithmetic argument).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries import register
from ..sources.batch import load_table
from . import graph as G

_PR_ITERS = 5


def _pagerank_oracle(iters: int) -> str:
    """Unroll the integer PageRank fixed-point as sequential CTEs."""
    rounds = []
    for i in range(1, iters + 1):
        rounds.append(
            f"""r{i} AS (
      SELECT e.dst AS node,
             CAST({G.TELEPORT_I} + ({G.DAMPING_PCT} * sum(r.rank_i // e.deg)) // 100
                  AS BIGINT) AS rank_i
      FROM ew e JOIN r{i - 1} r ON e.src = r.node
      GROUP BY e.dst
    )"""
        )
    joined = ",\n    ".join(rounds)
    return f"""
    WITH pairs AS (
      SELECT DISTINCT 'u:' || user_id::VARCHAR AS u,
             'i:' || json_extract_string(props, '$.k') AS i
      FROM events
      WHERE json_extract_string(props, '$.k') IS NOT NULL
    ), edges AS (
      SELECT u AS src, i AS dst FROM pairs
      UNION ALL
      SELECT i AS src, u AS dst FROM pairs
    ), deg AS (
      SELECT src, count(*) AS deg FROM edges GROUP BY src
    ), ew AS (
      SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)
    ), r0 AS (
      SELECT src AS node, {G.RANK_UNIT}::BIGINT AS rank_i FROM deg
    ),
    {joined}
    SELECT r.node, d.deg AS degree, r.rank_i
    FROM r{iters} r JOIN deg d ON d.src = r.node
    """


@register(
    "graph_pagerank_items",
    oracle=_pagerank_oracle(_PR_ITERS),
    doc="PageRank-style random-walk importance over the bipartite "
    "user-item graph from events (user -> props.k item, both edge "
    "directions so the walk is on the undirected graph and no node "
    "dangles). Integer micro-unit ranks with DIV-based damping make "
    f"all {_PR_ITERS} fixed-point rounds engine-exact and summation-"
    "order independent; per round the plan is one join + one groupBy "
    "shuffle with lineage truncated by localCheckpoint — the same "
    "iterative-operator discipline as connected_components "
    "(operators.graph.pagerank). At 100 TB the edge list shuffles on "
    "fixed-width node keys and rounds are O(E) each, O(iters) total.",
)
def graph_pagerank_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 fan_out audit: the JSON extract is cheap enough that the
    # pairs-distinct exchange (which redistributes anyway) dominates;
    # the widening shuffle measured pure overhead (A/B 5.16->4.48s at
    # sf0.1, sweeps/FANOUT_AB_r13.json).
    ev = load_table(spark, sf_dir, "events")
    item = F.get_json_object("props", "$.k")
    pairs = (
        ev.filter(item.isNotNull())
        .select(
            F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias("u"),
            F.concat(F.lit("i:"), item).alias("i"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("u").alias("src"), F.col("i").alias("dst")).unionAll(
        pairs.select(F.col("i").alias("src"), F.col("u").alias("dst"))
    )
    return G.pagerank(edges, iters=_PR_ITERS)


_LPA_ITERS = 3


def _lpa_oracle(iters: int) -> str:
    rounds = []
    for i in range(1, iters + 1):
        rounds.append(
            f"""l{i} AS (
      SELECT node, lbl FROM (
        SELECT e.dst AS node, l.lbl AS lbl,
               row_number() OVER (
                 PARTITION BY e.dst ORDER BY count(*) DESC, l.lbl
               ) AS rn
        FROM edges e JOIN l{i - 1} l ON e.src = l.node
        GROUP BY e.dst, l.lbl
      ) WHERE rn = 1
    )"""
        )
    joined = ",\n    ".join(rounds)
    return f"""
    WITH pairs AS (
      SELECT DISTINCT 'u:' || user_id::VARCHAR AS u,
             'i:' || json_extract_string(props, '$.k') AS i
      FROM events
      WHERE json_extract_string(props, '$.k') IS NOT NULL
    ), edges AS (
      SELECT u AS src, i AS dst FROM pairs
      UNION ALL
      SELECT i AS src, u AS dst FROM pairs
    ), l0 AS (
      SELECT DISTINCT src AS node, src AS lbl FROM edges
    ),
    {joined}
    SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members,
           min(node) AS exemplar
    FROM l{iters}
    GROUP BY lbl
    """


@register(
    "graph_lpa_communities",
    oracle=_lpa_oracle(_LPA_ITERS),
    doc="Community detection by synchronous label propagation (Raghavan "
    "et al. 2007) on the bipartite user-item graph: each round every "
    "node adopts its neighbors' most frequent label, ties to the "
    "lexicographically smallest — the determinism rule that lets the "
    f"oracle unroll the same {_LPA_ITERS} rounds as CTE stages and "
    "match bit-for-bit (random-order LPA would be irreproducible). "
    "Complements connected_components (structural reachability) with "
    "density-sensitive grouping; per round one join + one shuffle on "
    "fixed-width node keys, O(E) per round regardless of corpus size "
    "(operators.graph.label_propagation).",
)
def graph_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 fan_out audit: same shape as graph_pagerank_items — the
    # pairs-distinct exchange redistributes anyway (A/B 3.02->2.79s,
    # sweeps/FANOUT_AB_r13.json).
    ev = load_table(spark, sf_dir, "events")
    item = F.get_json_object("props", "$.k")
    pairs = (
        ev.filter(item.isNotNull())
        .select(
            F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias("u"),
            F.concat(F.lit("i:"), item).alias("i"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("u").alias("src"), F.col("i").alias("dst")).unionAll(
        pairs.select(F.col("i").alias("src"), F.col("u").alias("dst"))
    )
    labels = G.label_propagation(edges, iters=_LPA_ITERS)
    return labels.groupBy(F.col("lbl").alias("community")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.min("node").alias("exemplar"),
    )


def _co_order_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected part-part edges: two parts co-ordered in one order.

    The per-order self-join is bounded by TPC-H's <=7 lineitems/order,
    so edge generation is O(E) with no quadratic blowup — the standard
    co-occurrence projection (market-basket graph).  Edges are stored
    id-ordered (u < v) so the undirected set has one canonical row per
    edge.
    """
    # No fan_out here (r13, guide §2.4): the projection feeding the
    # distinct is trivial and the distinct's own hash exchange
    # redistributes to session width anyway — the round-robin
    # repartition was a pure extra shuffle of the 2-column frame
    # (measured at sf0.1: edge build 2.24s -> 1.64s median without it).
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )


# MATERIALIZED matters: DuckDB inlines plain CTEs per-reference, so a
# CTE used k times re-executes k times — the edge build and triangle
# join below are each referenced more than once.  (Spark-side the same
# hazard is avoided structurally: explode() instead of N-way self-union.)
_SQL_CO_ORDER_EDGES = """
    pairs AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), e AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM pairs a JOIN pairs b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )"""


@register(
    "graph_triangle_count",
    # Oracle-cost note (r8, verdict task 8): the pre-r8 oracle used
    # MATERIALIZED CTEs + an explicit wedge self-join closed against the
    # edge set; statistics don't propagate through DuckDB 1.0 CTE_SCANs,
    # so the optimizer picked an edge-expansion join order on the
    # closure (~440s at sf1 vs 6s with real tables).  This form (a)
    # inlines every CTE — the edge build is recomputed a bounded number
    # of times, each fully parallel WITH base-table stats — and (b)
    # replaces the wedge join with per-edge sorted-adjacency
    # intersection (list_intersect of both endpoints' out-neighbor
    # lists — the other standard compact-forward closure), whose two
    # joins both have the 200k-row adjacency side as build: no bad
    # order exists.  sf1: 35.8s, identical hashes (56,534,640 triangle
    # memberships over 200,000 nodes).
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM pairs a JOIN pairs b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS deg
      FROM (SELECT unnest([u, v]) AS node FROM e)
      GROUP BY node
    ), oriented AS (
      SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
                  THEN e.u ELSE e.v END AS src,
             CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
                  THEN e.v ELSE e.u END AS dst
      FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
    ), adj AS (
      SELECT src, list(dst ORDER BY dst) AS nbrs FROM oriented GROUP BY src
    ), tri AS (
      SELECT o.src AS a, o.dst AS b,
             unnest(list_intersect(a1.nbrs, a2.nbrs)) AS c
      FROM oriented o
      JOIN adj a1 ON a1.src = o.src
      JOIN adj a2 ON a2.src = o.dst
    )
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
    FROM (SELECT unnest([a, b, c]) AS node FROM tri)
    GROUP BY node
    """,
    doc="Exact per-node triangle participation over the part-part "
    "co-order graph (parts sharing an order — the market-basket "
    "projection; edge build is bounded by <=7 lineitems/order so it is "
    "O(E), never quadratic). Algorithm: degree-ordered compact-forward "
    "(Latapy 2008) — each undirected edge is oriented from the "
    "(degree, id)-smaller endpoint, wedges are enumerated only at each "
    "triangle's unique minimum-rank vertex, and closed by an equi-join "
    "against the canonical id-ordered edge set.  Degree orientation is "
    "the 100 TB skew fix: a celebrity node of degree d contributes "
    "O(d) oriented out-edges only if nothing heavier is adjacent, so "
    "wedge counts are Sum C(out_deg, 2) with out_deg <= O(sqrt(E)) "
    "instead of C(d, 2).  r9 (spill fix): the engine mirrors the "
    "oracle's sorted-adjacency intersection — per oriented edge "
    "(a, b), triangles close as array_intersect(adj(a), adj(b)) — so "
    "the wedge set NEVER materializes as exploded shuffle rows.  The "
    "pre-r9 wedge-expansion form shuffled every wedge (3 longs + row "
    "overhead each; ~4.3B wedges = hundreds of GB at sf10) into the "
    "closure join and exceeded this box's disk; the intersect form's "
    "largest shuffle carries |E| rows each holding one adjacency "
    "array — Sum over edges of out_deg(src) ~ 2x wedge COUNT in raw "
    "longs but ~6x fewer shuffle bytes (no per-wedge row overhead), "
    "and wedges exist only transiently inside the intersect kernel.  "
    "Degree orientation bounds every adjacency array at O(sqrt(E)) "
    "elements (~12k longs at sf10), so no collect_list heap bomb.  "
    "All joins remain hash equi-joins on fixed-width int keys; no "
    "iteration, no driver state.",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .lineage import truncate_lineage_scaled

    # Lineage cuts (r13 optimization): the logical graph references the
    # edge set / oriented edge set / adjacency MULTIPLE times (e feeds
    # deg + the orientation join; oriented feeds adj + the closure
    # probe; adj feeds both sides of the closure), and Catalyst expands
    # each reference into its own subtree — the initial physical plan
    # held 18 copies of the lineitem edge build (36 parquet scans).
    # Runtime exchange reuse recovers SOME of that, but the duplicated
    # planning + the unshared broadcast/aggregate work above the last
    # exchange does not.  Cutting after each shared intermediate makes
    # every stage run exactly once: measured 6.94s -> 2.26s median at
    # sf0.1/local[32] (interleaved A/B), with far lower variance.
    # Results are identical (a cut only materializes; no expression
    # changes).  BYTE-GUARDED (r13 session 4): the three cut frames are
    # edge-scale, and at sf10 their deserialized row-object mass
    # hard-OOMed a fresh 16 GiB JVM while the UNCUT form ran 224s
    # (SCALING_r13 note) — truncate_lineage_scaled cuts only while the
    # lineitem scan fits the executor-local budget, and always cuts
    # when SPARK_GRAFT_CHECKPOINT_DIR points at a reliable FS.
    src = load_table(spark, sf_dir, "lineitem")
    e = truncate_lineage_scaled(_co_order_edges(spark, sf_dir), source=src)
    deg = (
        e.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    ed = (
        e.join(deg.withColumnRenamed("node", "u").withColumnRenamed("deg", "du"), "u")
        .join(deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv"), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = truncate_lineage_scaled(
        ed.select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        ),
        source=src,
    )
    # Sorted out-adjacency per source; out_deg <= O(sqrt(E)) under the
    # degree orientation, so each list is small and bounded.
    adj = truncate_lineage_scaled(
        oriented.groupBy("src").agg(
            F.array_sort(F.collect_list("dst")).alias("nbrs")
        ),
        source=src,
    )
    tri = (
        oriented.join(
            adj.select(F.col("src").alias("_sa"), F.col("nbrs").alias("nbrs_a")),
            F.col("src") == F.col("_sa"),
        )
        .join(
            adj.select(F.col("src").alias("_sb"), F.col("nbrs").alias("nbrs_b")),
            F.col("dst") == F.col("_sb"),
        )
        .select(
            F.col("src").alias("a"),
            F.col("dst").alias("b"),
            F.explode(F.array_intersect("nbrs_a", "nbrs_b")).alias("c"),
        )
    )
    members = tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
    return members.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )


@register(
    "graph_degree_distribution",
    oracle=f"""
    WITH {_SQL_CO_ORDER_EDGES}, deg AS (
      SELECT node, count(*) AS deg
      FROM (SELECT unnest([u, v]) AS node FROM e)
      GROUP BY node
    )
    SELECT CAST(floor(ln(deg) / ln(2)) AS BIGINT) AS degree_bucket,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(deg) AS BIGINT) AS min_degree,
           CAST(max(deg) AS BIGINT) AS max_degree
    FROM deg
    GROUP BY degree_bucket
    """,
    doc="Log2-bucketed degree distribution of the part-part co-order "
    "graph — the first diagnostic run on any production graph (skew "
    "detection before choosing join strategies; a heavy tail here is "
    "what motivates the degree orientation in graph_triangle_count). "
    "Two shuffles total: degree groupBy on int node keys, then a "
    "bucket groupBy over one row per node.  floor(log2(deg)) stays "
    "engine-exact because degrees are integers and log2 boundaries "
    "are only crossed at exact powers of two.",
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _co_order_edges(spark, sf_dir)
    deg = (
        e.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return deg.groupBy(
        F.floor(F.log2("deg")).cast("bigint").alias("degree_bucket")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.min("deg").cast("bigint").alias("min_degree"),
        F.max("deg").cast("bigint").alias("max_degree"),
    )


@register(
    "graph_common_neighbors",
    oracle="""
    WITH ui AS MATERIALIZED (
      SELECT DISTINCT user_id, json_extract_string(props, '$.k') AS item
      FROM events
      WHERE json_extract_string(props, '$.k') IS NOT NULL
    ), deg AS MATERIALIZED (
      SELECT item, CAST(count(*) AS BIGINT) AS deg FROM ui GROUP BY item
    ), common AS (
      SELECT a.item AS item_i, b.item AS item_j,
             CAST(count(*) AS BIGINT) AS common_users
      FROM ui a JOIN ui b
        ON a.user_id = b.user_id AND a.item < b.item
      GROUP BY a.item, b.item
    )
    SELECT c.item_i, c.item_j, c.common_users,
           CAST((100 * c.common_users)
                // (di.deg + dj.deg - c.common_users) AS BIGINT) AS jaccard_pct
    FROM common c
    JOIN deg di ON di.item = c.item_i
    JOIN deg dj ON dj.item = c.item_j
    WHERE c.common_users >= 2
    """,
    doc="Item-item similarity by neighborhood Jaccard over the user-item "
    "bipartite graph (the 'users who touched X also touched Y' "
    "related-items query): wedge enumeration through shared users, "
    "common-neighbor counts, then |A intersect B| / |A union B| as an "
    "INTEGER percentage (100*common DIV (da+db-common)) so the output "
    "set is chosen by integer comparisons, never a float ordering.  "
    "Plan: the wedge self-join shuffles only (user, item-id) pairs, "
    "degrees ride a broadcast (item dictionary-sized), and the "
    "common>=2 filter bounds output.  At 100 TB the known hazard is "
    "power-users (a user with d items emits d^2/2 wedges) — the "
    "production guard is a per-user item cap or degree-ordered "
    "orientation exactly as in graph_triangle_count; item dictionaries "
    "stay broadcast-sized regardless of event volume.",
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13 fan_out audit: the ui-distinct exchange redistributes anyway
    # (A/B 1.74->1.44s at sf0.1, sweeps/FANOUT_AB_r13.json).
    ev = load_table(spark, sf_dir, "events")
    item = F.get_json_object("props", "$.k")
    ui = (
        ev.filter(item.isNotNull())
        .select("user_id", item.alias("item"))
        .distinct()
    )
    deg = ui.groupBy("item").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    a, b = ui.alias("a"), ui.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(F.col("a.item").alias("item_i"), F.col("b.item").alias("item_j"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("common_users"))
        .filter(F.col("common_users") >= 2)
    )
    di = F.broadcast(deg.select(F.col("item").alias("item_i"), F.col("deg").alias("di")))
    dj = F.broadcast(deg.select(F.col("item").alias("item_j"), F.col("deg").alias("dj")))
    return (
        common.join(di, "item_i")
        .join(dj, "item_j")
        .select(
            "item_i",
            "item_j",
            "common_users",
            F.floor(
                (100 * F.col("common_users"))
                / (F.col("di") + F.col("dj") - F.col("common_users"))
            )
            .cast("bigint")
            .alias("jaccard_pct"),
        )
    )


_KCORE_K = 3
_KCORE_ROUNDS = 3


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unroll the k-core peel as sequential CTE rounds."""
    parts = [f"e0 AS MATERIALIZED (SELECT u, v FROM e)"]
    for i in range(1, rounds + 1):
        p = i - 1
        parts.append(
            f"""d{i} AS MATERIALIZED (
      SELECT node, CAST(count(*) AS BIGINT) AS deg
      FROM (SELECT unnest([u, v]) AS node FROM e{p})
      GROUP BY node
    ), keep{i} AS MATERIALIZED (
      SELECT node FROM d{i} WHERE deg >= {k}
    ), e{i} AS MATERIALIZED (
      SELECT u, v FROM e{p}
      WHERE u IN (SELECT node FROM keep{i})
        AND v IN (SELECT node FROM keep{i})
    )"""
        )
    rows = "\nUNION ALL\n".join(
        f"""SELECT {i} AS round,
           (SELECT count(*) FROM keep{i})::BIGINT AS n_nodes,
           (SELECT count(*) FROM e{i})::BIGINT AS n_edges"""
        for i in range(1, rounds + 1)
    )
    return f"WITH {', '.join(parts)}\n{rows}"


@register(
    "graph_kcore_peel",
    oracle=f"""
    WITH {_SQL_CO_ORDER_EDGES},
    {_kcore_oracle(_KCORE_K, _KCORE_ROUNDS).split('WITH ', 1)[1]}
    """,
    doc=f"Iterative k-core peeling (k={_KCORE_K}, {_KCORE_ROUNDS} "
    "rounds) over the part-part co-order graph: each round drops nodes "
    f"with degree < {_KCORE_K} and the edges touching them, reporting "
    "surviving node/edge counts per round — the standard dense-"
    "subgraph/spam-cluster extraction pass (a near-dup cluster that "
    "survives peeling is structural, not incidental).  Peeling is the "
    "third iterative-graph discipline next to PageRank and LPA: per "
    "round one degree aggregation + two semi-joins on int keys, all "
    "integer-exact so the oracle unrolls the identical rounds as "
    "CTEs.  At 100 TB each round shuffles only (int,int) edges, "
    "rounds are O(E), and a production run would iterate to fixpoint "
    "with lineage checkpointing exactly as operators.graph.pagerank "
    "does (bounded rounds keep the oracle finite here).",
)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .lineage import truncate_lineage_scaled

    # Lineage cuts (r13, guide §2.4 — the graph_triangle_count lesson):
    # without them every per-round aggregate row embeds the FULL
    # edge-build + all prior rounds as its own subtree (the union of 3
    # rounds re-derived the lineitem co-order join up to 9 times);
    # lazy localCheckpoints make each round's frame compute exactly
    # once while the query stays one action.  Byte-guarded like
    # graph_triangle_count (r13 session 4): the edge/keep/cur frames
    # are edge-scale, so executor-local cuts apply only while the
    # lineitem scan fits the storage budget (reliable checkpoint dirs
    # always cut).
    src = load_table(spark, sf_dir, "lineitem")
    # node-scale frames (keep) are bounded by the part dictionary, so
    # their guard keys on the part scan — at a scale where the
    # edge-scale cuts must lapse, the cheap node-scale cuts still fire
    # and keep the round-over-round plan depth bounded.
    node_src = load_table(spark, sf_dir, "part")
    # live_cuts=4: the initial edge frame plus one cut `cur` per round
    # stay referenced (each round's aggregate row pins its `cur`), so
    # up to 4 edge-scale cuts are live at once — derate the per-cut
    # deserialized budget accordingly (r13 ADVICE).
    e = truncate_lineage_scaled(
        _co_order_edges(spark, sf_dir), source=src, live_cuts=4
    )
    rows = []
    cur = e
    for rnd in range(1, _KCORE_ROUNDS + 1):
        deg = (
            cur.select(F.explode(F.array("u", "v")).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        # keep feeds three subtrees (both semi-joins + the node count)
        keep = truncate_lineage_scaled(
            deg.filter(F.col("deg") >= _KCORE_K).select("node"),
            source=node_src,
        )
        # cur feeds two (the edge count + the next round)
        cur = truncate_lineage_scaled(
            cur.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v"),
            source=src,
            live_cuts=4,
        )
        rows.append(
            keep.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
            .crossJoin(
                cur.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
            )
            .select(F.lit(rnd).cast("int").alias("round"), "n_nodes", "n_edges")
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


_BFS_HOPS = 3
_BFS_SEEDS = 20


@register(
    "graph_bfs_reachability",
    oracle=f"""
    WITH {_SQL_CO_ORDER_EDGES}, und AS MATERIALIZED (
      SELECT u, v FROM e UNION ALL SELECT v, u FROM e
    ), f0 AS MATERIALIZED (
      SELECT DISTINCT u AS node FROM und WHERE u < {_BFS_SEEDS}
    ), r1 AS MATERIALIZED (
      SELECT DISTINCT e.v AS node FROM und e JOIN f0 ON e.u = f0.node
    ), f1 AS MATERIALIZED (
      SELECT node FROM r1 WHERE node NOT IN (SELECT node FROM f0)
    ), r2 AS MATERIALIZED (
      SELECT DISTINCT e.v AS node FROM und e JOIN f1 ON e.u = f1.node
    ), f2 AS MATERIALIZED (
      SELECT node FROM r2 WHERE node NOT IN (SELECT node FROM f0)
        AND node NOT IN (SELECT node FROM f1)
    ), r3 AS MATERIALIZED (
      SELECT DISTINCT e.v AS node FROM und e JOIN f2 ON e.u = f2.node
    ), f3 AS MATERIALIZED (
      SELECT node FROM r3 WHERE node NOT IN (SELECT node FROM f0)
        AND node NOT IN (SELECT node FROM f1)
        AND node NOT IN (SELECT node FROM f2)
    )
    SELECT 0 AS hop, (SELECT count(*) FROM f0)::BIGINT AS n_new
    UNION ALL SELECT 1, (SELECT count(*) FROM f1)::BIGINT
    UNION ALL SELECT 2, (SELECT count(*) FROM f2)::BIGINT
    UNION ALL SELECT 3, (SELECT count(*) FROM f3)::BIGINT
    """,
    doc=f"Multi-hop BFS reachability (frontier expansion, {_BFS_HOPS} "
    f"hops from the {_BFS_SEEDS} lowest part ids) over the undirected "
    "co-order graph: per hop, join the current frontier against the "
    "edge list, subtract everything already visited (left-anti on the "
    "visited set), report newly-reached counts — the neighborhood-"
    "growth profile behind 'related products within k hops' and "
    "contamination blast-radius queries.  Fourth iterative-graph "
    "discipline next to PageRank/LPA/k-core: per hop ONE join shuffle "
    "on int node keys + one anti-join; the visited set stays "
    "(nodes)-sized.  At 100 TB production BFS iterates to frontier "
    "exhaustion with lineage checkpoints (operators.graph); bounded "
    "hops keep the oracle finite here.",
)
def graph_bfs_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .lineage import truncate_lineage_scaled

    # Lineage cuts (r13, guide §2.4 — the graph_triangle_count lesson):
    # the undirected edge frame feeds every hop's semi-join and each
    # hop's frontier/visited feed three subtrees (count, expansion,
    # visited union) — uncut, the 3-hop union re-derived the lineitem
    # co-order edge build once per reference.  Lazy localCheckpoints
    # keep the query one action while every frame computes once.
    # Byte-guarded like graph_triangle_count (r13 session 4): the
    # undirected edge frame is edge-scale, so executor-local cuts apply
    # only while the lineitem scan fits the storage budget.
    src = load_table(spark, sf_dir, "lineitem")
    # frontier/visited are node-scale (bounded by the part dictionary):
    # guard them on the part scan so the hop loop's plan depth stays
    # bounded even when the edge-scale cut lapses (see kcore).
    node_src = load_table(spark, sf_dir, "part")
    e = _co_order_edges(spark, sf_dir)
    # serialized_tier=False (r14): und feeds only one semi-join per hop
    # and runtime exchange reuse already dedups those physically — the
    # serialized materialization of the 2x-edge frame measured 136.6 s
    # vs 65.2 s uncut at sf10 (isolated A/B), so over-budget lapses to
    # uncut here exactly as in r13.
    und = truncate_lineage_scaled(
        e.select("u", "v").unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ),
        source=src,
        serialized_tier=False,
    )
    # live_cuts=7 on the node-scale frames: the seed frontier plus one
    # frontier + one visited cut per hop stay referenced (each hop's
    # aggregate row pins its frontier), so up to 7 node-scale cuts are
    # live at once (r13 ADVICE derating).
    frontier = truncate_lineage_scaled(
        und.filter(F.col("u") < _BFS_SEEDS)
        .select(F.col("u").alias("node"))
        .distinct(),
        source=node_src,
        live_cuts=7,
    )
    visited = frontier
    rows = [
        frontier.agg(
            F.lit(0).cast("bigint").alias("hop"),
            F.count(F.lit(1)).cast("bigint").alias("n_new"),
        )
    ]
    for hop in range(1, _BFS_HOPS + 1):
        reached = (
            und.join(
                frontier.withColumnRenamed("node", "u"), "u", "left_semi"
            )
            .select(F.col("v").alias("node"))
            .distinct()
        )
        frontier = truncate_lineage_scaled(
            reached.join(visited, "node", "left_anti"),
            source=node_src,
            live_cuts=7,
        )
        visited = truncate_lineage_scaled(
            visited.unionByName(frontier).distinct(),
            source=node_src,
            live_cuts=7,
        )
        rows.append(
            frontier.agg(
                F.lit(hop).cast("bigint").alias("hop"),
                F.count(F.lit(1)).cast("bigint").alias("n_new"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


@register(
    "graph_random_walk_deterministic",
    oracle="""
    WITH RECURSIVE pairs AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), e AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM pairs a JOIN pairs b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), edges AS MATERIALIZED (
      SELECT u AS src, v AS dst FROM e
      UNION ALL
      SELECT v AS src, u AS dst FROM e
    ), indexed AS MATERIALIZED (
      SELECT src, dst,
             row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx,
             count(*) OVER (PARTITION BY src) AS deg
      FROM edges
    ),
    walk(seed, node, step, path) AS (
      SELECT src, src, 0, src::VARCHAR
      FROM (SELECT DISTINCT src FROM edges WHERE src % 97 = 0)
      UNION ALL
      SELECT w.seed, i.dst, w.step + 1, w.path || '-' || i.dst::VARCHAR
      FROM walk w JOIN indexed i ON i.src = w.node
      WHERE w.step < 3
        AND i.idx = (('0x' || substr(md5(
              w.seed::VARCHAR || ':walk' || (w.step + 1)::VARCHAR
              || ':' || w.node::VARCHAR), 1, 15))::BIGINT) % i.deg
    )
    SELECT seed, node AS end_node, path FROM walk WHERE step = 3
    """,
    doc="Deterministic random walks (the DeepWalk/node2vec sampling "
    "primitive): one 3-step walk per seed over the symmetrized "
    "co-order part graph, where each hop picks neighbor number "
    "md5(seed, step, node) mod degree from the dst-ordered adjacency "
    "list — no RNG state, so walks are reproducible across runs, "
    "engines (the oracle replays them in a recursive CTE), and "
    "appends.  Each step is one equi-join of the O(seeds) frontier "
    "against the indexed edge list (never the full walk history), the "
    "same per-round shape as the other iterative graph ops; at 100 TB "
    "the frontier shuffles only (seed, node, path) rows.  Walk "
    "corpora generated this way feed skip-gram embedding training — "
    "the graph-to-sequence bridge in a training-data pipeline.",
)
def graph_random_walk_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions import md5_long
    from .lineage import truncate_lineage_scaled

    e = _co_order_edges(spark, sf_dir)
    edges = e.select(F.col("u").alias("src"), F.col("v").alias("dst")).union(
        e.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    w = Window.partitionBy("src").orderBy("dst")
    wd = Window.partitionBy("src")
    # materialize the indexed adjacency ONCE: all 3 hop joins reuse it
    # instead of re-deriving the edge build per step (same lineage
    # discipline as the other iterative graph ops).  Byte-guarded (r13
    # session 4): the indexed frame is edge-scale (2x co-order edges),
    # and an UNGUARDED eager localCheckpoint of it hard-OOMed a fresh
    # 16 GiB JVM at sf10 (the old sf10 sweeps masked this by running
    # with --checkpoint-dir, i.e. reliable disk checkpoints) — same
    # class and same fix as graph_triangle_count.
    # serialized_tier=False (r14): like BFS's und, the indexed frame is
    # consumed by only 3 hop joins (exchange reuse dedups them) — the
    # eager serialized materialization of the 2x-edge frame measured
    # 119.7 s vs 51.3 s uncut at sf10 (isolated A/B), so over-budget
    # lapses to uncut exactly as in r13.
    indexed = truncate_lineage_scaled(
        edges.select(
            "src",
            "dst",
            (F.row_number().over(w) - 1).alias("idx"),
            F.count(F.lit(1)).over(wd).alias("deg"),
        ),
        source=load_table(spark, sf_dir, "lineitem"),
        eager=True,
        serialized_tier=False,
    )
    walk = (
        edges.select("src")
        .distinct()
        .filter(F.col("src") % 97 == 0)
        .select(
            F.col("src").alias("seed"),
            F.col("src").alias("node"),
            F.col("src").cast("string").alias("path"),
        )
    )
    for step in (1, 2, 3):
        h = md5_long(
            F.concat(
                F.col("seed").cast("string"),
                F.lit(f":walk{step}:"),
                F.col("node").cast("string"),
            )
        )
        walk = (
            walk.join(indexed, walk["node"] == indexed["src"])
            .filter(F.col("idx") == h % F.col("deg"))
            .select(
                "seed",
                F.col("dst").alias("node"),
                F.concat(F.col("path"), F.lit("-"), F.col("dst").cast("string")).alias(
                    "path"
                ),
            )
        )
    return walk.select("seed", F.col("node").alias("end_node"), "path")
