"""Graph derivation over the relationships edge table (SURVEY.md §2.8).

The reference builds an adjacency dict and runs a (buggy) BFS in driver
Python (``erd_generator.py:288-344`` in /root/reference/bigquery-to-erd).
Here the graph IS a DataFrame of edges; roots fall out of a left-anti
join and BFS levels are a bounded loop of joins — level-synchronous, each
iteration one broadcast join over frontier × edges, intermediate results
cached so lineage stays flat.

Reference bug fixed deliberately (SURVEY.md §7.5): ``_topological_sort``
seeds its table map with roots only, so non-root neighbors are never
placed. The engine computes min-distance-from-any-root for every
reachable table; the oracle encodes the fixed semantics with a recursive
CTE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcp_datalake_utils_spark.catalog import fixtures as fx
from gcp_datalake_utils_spark.operators import detection_oracle as do
from gcp_datalake_utils_spark.operators.detection import detect_all

MAX_BFS_LEVELS = 10  # the reference caps layout iterations at 10


def edges(spark: SparkSession,
          rels: DataFrame | None = None) -> DataFrame:
    """G1: distinct (source_table, target_table) edge list from the
    detection pipeline output (``_build_dependency_graph``)."""
    rels = rels if rels is not None else detect_all(spark)
    return (rels.select(F.col("source_table").alias("src"),
                        F.col("target_table").alias("dst"))
            .distinct())


def roots(spark: SparkSession,
          rels: DataFrame | None = None) -> DataFrame:
    """[Q] G2: tables with no incoming relationship
    (``erd_generator.py:144-149``) — left-anti join against edge dst."""
    e = edges(spark, rels)
    tabs = fx.meta_tables_df(spark).select("table_id")
    return tabs.join(e.select(F.col("dst").alias("table_id")).distinct(),
                     "table_id", "left_anti")


def bfs_levels(spark: SparkSession,
               rels: DataFrame | None = None,
               max_levels: int = MAX_BFS_LEVELS) -> DataFrame:
    """[Q] G3 (fixed semantics): min BFS level from any root, bounded.

    Level-synchronous DataFrame BFS. Iterative DataFrame loops grow
    lineage superlinearly if left unchecked (SURVEY.md §7.4.7), so every
    level is eagerly ``localCheckpoint``-ed: each iteration is then one
    small independent job over the (broadcast-sized) edge list instead of
    a re-derivation of the whole detection pipeline."""
    rels = rels if rels is not None else detect_all(spark)
    # The relationship graph is METADATA-sized at any data scale (one
    # node per table), so the whole iteration runs on single-partition
    # frames: each level is then one 1-task job instead of a
    # shuffle-partition-count fan-out — at 30 nodes the difference is
    # ~50 s of scheduler overhead under a default-200-partition session.
    e = edges(spark, rels).coalesce(1).localCheckpoint()
    frontier = (roots(spark, rels)
                .withColumn("level", F.lit(0))
                .coalesce(1).localCheckpoint())
    visited = frontier
    for _ in range(max_levels):
        nxt = (frontier.join(F.broadcast(e),
                             frontier["table_id"] == e["src"])
               .select(F.col("dst").alias("table_id"),
                       (F.col("level") + 1).alias("level"))
               .join(F.broadcast(visited.select("table_id")),
                     "table_id", "left_anti")
               .groupBy("table_id")
               .agg(F.min("level").alias("level"))
               .coalesce(1).localCheckpoint())
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).coalesce(1).localCheckpoint()
        frontier = nxt
    return visited.select("table_id", F.col("level").cast("int")
                          .alias("level"))


def roots_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return roots(spark)


def roots_oracle() -> str:
    return do._preamble() + """
SELECT table_id FROM tabs
WHERE table_id NOT IN (SELECT DISTINCT target_table FROM validated)
"""


def bfs_levels_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bfs_levels(spark)


def bfs_levels_oracle() -> str:
    preamble = do._preamble().replace("\nWITH cls AS",
                                      "\nWITH RECURSIVE cls AS", 1)
    return preamble + f"""
, edges AS (SELECT DISTINCT source_table AS src, target_table AS dst
            FROM validated),
bfs AS (
  SELECT table_id, 0 AS level FROM tabs
  WHERE table_id NOT IN (SELECT dst FROM edges)
  UNION ALL
  SELECT e.dst AS table_id, b.level + 1 AS level
  FROM bfs b JOIN edges e ON e.src = b.table_id
  WHERE b.level < {MAX_BFS_LEVELS}
)
SELECT table_id, CAST(min(level) AS INTEGER) AS level
FROM bfs GROUP BY table_id
"""


# --- PageRank over the dependency graph (iterative; G-family ext) -------

DAMPING = 0.85
PAGERANK_ITERS = 3


def _osum(pairs_col, field: str):
    """Order-controlled float sum: sort the (key, value) structs, fold
    sequentially. Both engines then perform the identical sequence of
    additions (the oracle mirrors with list(v ORDER BY k) +
    list_reduce), so iterated float arithmetic stays bit-equal — the
    groupBy-sum alternative is merge-order dependent."""
    return F.aggregate(F.array_sort(pairs_col), F.lit(0.0),
                       lambda a, x: a + x[field])


def pagerank(spark: SparkSession,
             rels: DataFrame | None = None,
             iters: int = PAGERANK_ITERS) -> DataFrame:
    """[Q] G-ext: PageRank centrality of tables in the FK dependency
    graph — "which table does the schema revolve around" (the hub
    score the reference's layout heuristics approximate with degree).

    Standard damped iteration with dangling-mass redistribution. The
    graph is metadata-sized (one node per table) at ANY data scale, so
    every frame is single-partition and each of the ``iters`` rounds is
    one small job; per-round localCheckpoint keeps lineage flat (same
    discipline as bfs_levels). At web scale the same loop runs
    partitioned: contributions become a src-keyed shuffle join and the
    ordered folds stay per-dst."""
    rels = detect_all(spark) if rels is None else rels
    e = edges(spark, rels).coalesce(1).localCheckpoint()
    nodes = (fx.meta_tables_df(spark).select("table_id")
             .coalesce(1).localCheckpoint())
    n = nodes.count()
    deg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    e2 = e.join(deg, "src").localCheckpoint()
    pr = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iters):
        pr = pr.coalesce(1).localCheckpoint()
        dang = (pr.join(deg.select(F.col("src").alias("table_id")),
                        "table_id", "left_anti")
                .agg(_osum(F.collect_list(F.struct("table_id", "rank")),
                           "rank").alias("s")))
        contrib = (e2.join(pr.withColumnRenamed("table_id", "src"),
                           "src")
                   .select("dst", "src",
                           (F.col("rank") / F.col("outdeg"))
                           .alias("contrib"))
                   .groupBy("dst")
                   .agg(_osum(F.collect_list(F.struct("src", "contrib")),
                              "contrib").alias("c")))
        pr = (nodes
              .join(contrib.withColumnRenamed("dst", "table_id"),
                    "table_id", "left")
              .crossJoin(F.broadcast(dang))
              .select("table_id",
                      (F.lit((1 - DAMPING) / n)
                       + DAMPING * (F.coalesce("c", F.lit(0.0))
                                    + F.col("s") / n)).alias("rank")))
    w = Window.orderBy(F.desc("rank"), "table_id")
    return (pr.select("table_id", F.round("rank", 6).alias("rank"))
            .withColumn("position",
                        F.row_number().over(w).cast("int")))


def pagerank_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pagerank(spark)


def pagerank_oracle(iters: int = PAGERANK_ITERS) -> str:
    ctes = [f"""edges AS (
  SELECT DISTINCT source_table AS src, target_table AS dst
  FROM validated),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
nodes AS (SELECT table_id FROM tabs),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
pr0 AS (SELECT table_id, 1.0 / nn.n AS rank FROM nodes, nn)"""]
    for i in range(iters):
        ctes.append(f"""dang{i} AS (
  SELECT list_reduce(list_prepend(
           0.0, COALESCE(list(rank ORDER BY table_id), [])),
         (a, b) -> a + b) AS s
  FROM pr{i} WHERE table_id NOT IN (SELECT src FROM deg))""")
        ctes.append(f"""contrib{i} AS (
  SELECT e.dst AS table_id,
         list_reduce(list_prepend(
           0.0, list(p.rank / d.outdeg ORDER BY e.src)),
         (a, b) -> a + b) AS c
  FROM edges e
  JOIN pr{i} p ON p.table_id = e.src
  JOIN deg d ON d.src = e.src
  GROUP BY e.dst)""")
        # interpolate the exact Python double (1 - 0.85 ==
        # 0.15000000000000002...): a SQL `1 - 0.85` is evaluated by
        # DuckDB in DECIMAL (exactly 0.15), a 1-ulp divergence from the
        # Spark side injected into every node every iteration
        ctes.append(f"""pr{i + 1} AS (
  SELECT nd.table_id,
         CAST({1 - DAMPING!r} AS DOUBLE) / nn.n
           + {DAMPING} * (COALESCE(c.c, 0.0) + dang{i}.s / nn.n) AS rank
  FROM nodes nd
  CROSS JOIN nn
  CROSS JOIN dang{i}
  LEFT JOIN contrib{i} c ON c.table_id = nd.table_id)"""
        )
    return do._preamble() + ", " + ",\n".join(ctes) + f"""
SELECT table_id, round(rank, 6) AS rank,
       CAST(row_number() OVER (ORDER BY rank DESC, table_id)
            AS INTEGER) AS position
FROM pr{iters}
"""
