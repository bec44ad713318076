"""Graph analytics over the document near-dup graph: PageRank.

Complements `dedup_components` (connected components = cluster
membership) with an IMPORTANCE measure over the same kind of graph:
which documents sit at the center of a duplication neighborhood. The
standard use downstream of dedup: rank cluster members to pick
canonical survivors, or surface hub documents whose boilerplate leaks
into many others.

Scale shape — the loop body is the textbook distributed PageRank:

- the edge list is built once (paragraph-digest inverted index,
  hot-paragraph cap, both directions of each undirected pair), then
  every iteration is one keyed join (ranks onto edge sources) + one
  aggregate (contributions onto destinations). Nothing driver-side;
  K is a fixed constant so lineage stays shallow (no checkpoint
  needed — contrast the data-dependent round count of
  dedup.connected_components, which does checkpoint).
- determinism: contribution sums accumulate as DECIMAL(38,18) (the
  registry discipline), so ranks are bit-identical under any
  partitioning — which is what lets a fixed-K PageRank be ORACLED
  exactly as unrolled SQL CTEs, one per iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nt_etl_order_book_spark.functions.dedup import _sql_paragraphs, paragraphs, sorted_pairs
from nt_etl_order_book_spark.registry import register
from nt_etl_order_book_spark.session import checkpoint_frame
from nt_etl_order_book_spark.tables import load_table

PR_ITERS = 3
# Hot-paragraph guard: a boilerplate chunk shared by thousands of docs
# would contribute O(df^2) edges; cap the digest's doc-frequency the
# same way the other pair-ops cap hot shingles/fingerprints.
PR_PARA_CAP = 50


def paragraph_edges(docs: DataFrame, *, directed: bool) -> DataFrame:
    """Distinct doc-pair edges of the shared-paragraph graph.

    `directed=True` → (src, dst) both directions, src != dst (pagerank,
    reachability); `directed=False` → (src, dst) with src < dst
    (triangle counting's undirected form). One grouped pass generates
    pairs IN-ARRAY per paragraph digest (the dedup.shingle_pair_stats
    shape): the df bounds stay a streaming window count on the digest
    partitioning, so the postings list that follows is bounded at
    PR_PARA_CAP before any array materializes; the earlier kept/a/b
    fork re-ran the paragraph+md5 pipeline once per branch (three
    scans) and its alias-differing self-join blocked ReusedExchange.
    """
    dp = paragraphs(docs).select("doc_id", F.md5(F.col("par")).alias("h")).distinct()
    w = Window.partitionBy("h")
    capped = (
        dp.withColumn("_df", F.count(F.lit(1)).over(w))
        .filter((F.col("_df") >= 2) & (F.col("_df") <= PR_PARA_CAP))
        .drop("_df")
    )
    ids = F.col("ids")
    if directed:
        pair_arr = F.flatten(
            F.transform(
                ids,
                lambda x: F.transform(
                    F.filter(ids, lambda y: y != x),
                    lambda y: F.struct(x.alias("src"), y.alias("dst")),
                ),
            )
        )
        agg_ids = F.collect_list("doc_id")
    else:
        pair_arr = sorted_pairs(ids, "src", "dst")
        agg_ids = F.array_sort(F.collect_list("doc_id"))
    return (
        capped.groupBy("h")
        .agg(agg_ids.alias("ids"))
        .select(F.explode(pair_arr).alias("p"))
        .select("p.src", "p.dst")
        .distinct()
    )


def _sql_pagerank_iters(k: int) -> str:
    """r1..rk CTEs: one unrolled PageRank step each (DuckDB side)."""
    steps = []
    for i in range(1, k + 1):
        steps.append(f"""
    r{i} AS (
      SELECT e.dst AS node,
             CAST(0.15 AS DOUBLE) / n.n
               + CAST(0.85 AS DOUBLE)
                 * CAST(SUM(CAST(r.r / d.deg AS DECIMAL(38,18))) AS DOUBLE) AS r
      FROM edges e
      JOIN r{i - 1} r ON r.node = e.src
      JOIN deg d ON d.node = e.src
      CROSS JOIN n
      GROUP BY e.dst, n.n
    )""")
    return ",".join(steps)


@register(
    "pagerank_docs",
    f"""
    WITH {_sql_paragraphs()},
    dp AS (SELECT DISTINCT doc_id, md5(par) AS h FROM pars),
    pf AS (
      SELECT h FROM dp GROUP BY h
      HAVING COUNT(*) BETWEEN 2 AND {PR_PARA_CAP}
    ),
    pe AS (SELECT doc_id, h FROM dp WHERE h IN (SELECT h FROM pf)),
    edges AS (
      SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
      FROM pe a JOIN pe b USING (h)
      WHERE a.doc_id <> b.doc_id
    ),
    deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src),
    n AS (SELECT COUNT(*) AS n FROM deg),
    r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / n.n AS r FROM deg CROSS JOIN n),
    {_sql_pagerank_iters(PR_ITERS)}
    SELECT d.node AS doc_id, ROUND(r{PR_ITERS}.r, 12) AS rank, d.deg
    FROM r{PR_ITERS} JOIN deg d ON d.node = r{PR_ITERS}.node
    """,
    doc=(
        "PageRank (damping 0.85, 3 fixed iterations) over the "
        "paragraph-sharing graph: undirected edge between two docs that "
        "share a paragraph digest whose corpus doc-frequency is within "
        "[2, cap] (the hot-boilerplate guard all pair-ops here use). "
        "Each iteration is one keyed join + one aggregate; contribution "
        "sums accumulate as DECIMAL(38,18), making ranks bit-identical "
        "under any partitioning — so the DuckDB oracle can check the "
        "iterative algorithm EXACTLY via unrolled per-iteration CTEs. "
        "Every node of the pair graph has degree >= 1 in both "
        "directions, so there is no dangling-mass term. Ranking the "
        "dup graph is the canonical-survivor / hub-boilerplate audit "
        "that follows dedup_components clustering."
    ),
)
def q_pagerank_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Materialize the edge list before the deg/iteration forks (r15
    # optimization round — the graph_reachability lesson applied to its
    # sibling): every consumer (degree pass, per-iteration contribution
    # join, final rank join) otherwise re-plans the whole paragraph
    # digest + DF-cap + pair-generation subtree — the before-plan
    # carried TWELVE parquet scans of documents
    # (plans/r15/pagerank_docs_before.txt); with the cut it carries one.
    edges = checkpoint_frame(paragraph_edges(docs, directed=True), eager=False)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).withColumnRenamed("src", "node")
    n = deg.agg(F.count(F.lit(1)).alias("n"))
    # edges annotated with source degree once; every iteration reuses it
    edges_d = edges.join(deg, edges.src == deg.node).select("src", "dst", "deg")
    ranks = deg.crossJoin(F.broadcast(n)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("r")
    )
    for _ in range(PR_ITERS):
        contribs = edges_d.join(ranks, edges_d.src == ranks.node).select(
            F.col("dst"), (F.col("r") / F.col("deg")).alias("c")
        )
        ranks = (
            contribs.groupBy("dst")
            .agg(F.sum(F.col("c").cast("decimal(38,18)")).cast("double").alias("s"))
            .crossJoin(F.broadcast(n))
            .select(
                F.col("dst").alias("node"),
                (F.lit(0.15) / F.col("n") + F.lit(0.85) * F.col("s")).alias("r"),
            )
        )
    # 12-dp output round: the double -> DECIMAL(38,18) quantization of
    # each contribution can differ by one unit in the 18th place across
    # engines (a double near 1e-4 has no exact 18-dp form and the two
    # engines round the tie differently), accumulating to ~1e-17 over K
    # iterations — far below the 1e-12 grain, so rounding restores
    # bit-equality without hiding real divergence.
    return ranks.join(deg, "node").select(
        F.col("node").alias("doc_id"), F.round("r", 12).alias("rank"), "deg"
    )


@register(
    "triangle_count",
    f"""
    WITH {_sql_paragraphs()},
    dp AS (SELECT DISTINCT doc_id, md5(par) AS h FROM pars),
    pf AS (
      SELECT h FROM dp GROUP BY h
      HAVING COUNT(*) BETWEEN 2 AND {PR_PARA_CAP}
    ),
    pe AS (SELECT doc_id, h FROM dp WHERE h IN (SELECT h FROM pf)),
    und AS (
      SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM pe a JOIN pe b USING (h)
      WHERE a.doc_id < b.doc_id
    ),
    deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
      ) GROUP BY node
    ),
    oriented AS (
      SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
                  THEN e.u ELSE e.v END AS lo,
             CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
                  THEN e.v ELSE e.u END AS hi
      FROM und e
      JOIN deg du ON du.node = e.u
      JOIN deg dv ON dv.node = e.v
    ),
    wedges AS (
      SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
      FROM oriented e1 JOIN oriented e2
        ON e1.hi = e2.lo
    ),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM wedges w
      WHERE EXISTS (SELECT 1 FROM oriented o WHERE o.lo = w.a AND o.hi = w.c)
    )
    SELECT t.n_triangles,
           (SELECT COUNT(*) FROM und) AS n_edges,
           (SELECT COUNT(*) FROM deg) AS n_nodes,
           ROUND(CASE WHEN (SELECT COUNT(*) FROM und) = 0 THEN NULL
                 ELSE 3.0 * t.n_triangles / (SELECT COUNT(*) FROM und) END, 6)
             AS closure_per_edge
    FROM tri t
    """,
    doc=(
        "Triangle count over the paragraph-sharing dup graph — the "
        "graph-clustering diagnostic (high closure = tight template "
        "families that dedup_components will collapse; low closure = "
        "chains, the survivorship-policy hard case). Uses the "
        "DEGREE-ORIENTED algorithm (Schank-Wagner / Cohen's MR form): "
        "orient every undirected edge from the lower-degree endpoint "
        "(ties by id — a TOTAL order, so orientation is acyclic and "
        "each triangle is counted exactly once), build wedges only "
        "from each node's HIGHER-degree out-neighborhood, and close "
        "them with a semi-join back onto the oriented edge set. "
        "Per-node wedge work is O(out-degree^2) where out-degree <= "
        "sqrt(2|E|) by the orientation bound — the hub that would "
        "contribute O(d^2) wedges undirected contributes almost none "
        "— so the wedge table, the one quadratic object, is bounded "
        "by O(|E|^1.5) globally. Edges inherit the PR_PARA_CAP "
        "doc-frequency cap from the pagerank/dedup family."
    ),
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Materialize the undirected edge list (r15 optimization round):
    # it feeds the degree pass (twice), the orientation join and the
    # edge-count tail — without the cut each fork re-plans the whole
    # edge-construction subtree (18 document scans in the before-plan,
    # plans/r15 audit). Same for `oriented` below: it is consumed as
    # e1, e2 AND the closing semi-join (3 more re-plans of the
    # orientation join).
    und = checkpoint_frame(
        paragraph_edges(docs, directed=False).select(
            F.col("src").alias("u"), F.col("dst").alias("v")
        ),
        eager=False,
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = checkpoint_frame(
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("lo"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("hi"),
        ),
        eager=False,
    )
    e1 = oriented.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = oriented.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    wedges = e1.join(e2, "b").select("a", "c")
    closer = oriented.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    tri = wedges.join(closer, ["a", "c"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    counts = (
        tri.crossJoin(und.agg(F.count(F.lit(1)).alias("n_edges")))
        .crossJoin(deg.agg(F.count(F.lit(1)).alias("n_nodes")))
    )
    return counts.select(
        "n_triangles",
        "n_edges",
        "n_nodes",
        F.round(
            F.when(
                F.col("n_edges") == 0, F.lit(None).cast("double")
            ).otherwise(F.lit(3.0) * F.col("n_triangles") / F.col("n_edges")),
            6,
        ).alias("closure_per_edge"),
    )


REACH_HOPS = 3
REACH_SEED_MOD = 50


@register(
    "graph_reachability",
    f"""
    WITH RECURSIVE {_sql_paragraphs().lstrip()},
    dp AS (SELECT DISTINCT doc_id, md5(par) AS h FROM pars),
    pf AS (
      SELECT h FROM dp GROUP BY h
      HAVING COUNT(*) BETWEEN 2 AND {PR_PARA_CAP}
    ),
    pe AS (SELECT doc_id, h FROM dp WHERE h IN (SELECT h FROM pf)),
    edges AS (
      SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
      FROM pe a JOIN pe b USING (h)
      WHERE a.doc_id <> b.doc_id
    ),
    seeds AS (
      SELECT DISTINCT src AS node FROM edges WHERE src % {REACH_SEED_MOD} = 0
    ),
    reach(node, dist) AS (
      SELECT node, 0 FROM seeds
      UNION ALL
      SELECT DISTINCT e.dst, r.dist + 1
      FROM reach r JOIN edges e ON e.src = r.node
      WHERE r.dist < {REACH_HOPS}
    )
    SELECT node AS doc_id, CAST(MIN(dist) AS BIGINT) AS dist
    FROM reach GROUP BY node
    """,
    doc=(
        "Bounded BFS over the dup graph via WITH RECURSIVE — shortest "
        "hop distance from the seed docs (ids % 50 = 0) within "
        f"{REACH_HOPS} hops, the contamination-blast-radius question "
        "('what else transitively shares content with these flagged "
        "docs?') expressed in the SQL surface users actually write. "
        "Spark 4's recursive CTE executes the same text the DuckDB "
        "oracle runs, so the engines cross-check each other's "
        "fixpoint; the hop bound makes termination unconditional on "
        "cyclic graphs (every dup-graph component is cyclic), the "
        "recursive arm SELECTs DISTINCT so each level's frontier is "
        "bounded by |nodes| — plain UNION ALL exploded exponentially "
        "on a dense 10-copy-clique corpus and hit Spark's 1M-row "
        "recursion guard (caught on the 10x fixture; UNION-distinct "
        "semi-naive iteration is not yet supported in Spark's "
        "recursive CTEs, step-DISTINCT is) — and the MIN(dist) "
        "aggregate collapses revisits. The Spark side "
        "builds the edge/seed frames as the pagerank family does, "
        "registers them as temp views, and runs the recursion in "
        "spark.sql — per-iteration cost is one keyed join on the "
        "frontier, frontier bounded by component sizes (df-capped)."
    ),
)
def q_graph_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    edges = paragraph_edges(docs, directed=True)
    # Materialize the edge list ONCE before the recursion: each
    # recursive step joins against the `_reach_edges` view, and without
    # the lineage cut Spark re-executes the whole edge-construction
    # subtree (paragraph digest + DF filter + self-join) per hop —
    # measured 6.1 s -> 1.8 s at sf0.1 with REACH_HOPS=3. Same
    # checkpoint flavor as the connected-components rounds
    # (session.checkpoint_frame: reliable when a checkpoint dir is set,
    # local otherwise).
    from nt_etl_order_book_spark.session import checkpoint_frame

    edges = checkpoint_frame(edges, eager=False)
    seeds = (
        edges.filter(F.col("src") % REACH_SEED_MOD == 0)
        .select(F.col("src").alias("node"))
        .distinct()
    )
    edges.createOrReplaceTempView("_reach_edges")
    seeds.createOrReplaceTempView("_reach_seeds")
    return spark.sql(
        f"""
        WITH RECURSIVE reach(node, dist) AS (
          SELECT node, 0 FROM _reach_seeds
          UNION ALL
          SELECT DISTINCT e.dst, r.dist + 1
          FROM reach r JOIN _reach_edges e ON e.src = r.node
          WHERE r.dist < {REACH_HOPS}
        )
        SELECT node AS doc_id, CAST(MIN(dist) AS BIGINT) AS dist
        FROM reach GROUP BY node
        """
    )
