"""Iterative graph analytics over document-similarity edges.

``dedup_clusters`` already walks the near-dup graph for connected
components (min-label propagation). This module adds the weighted
centrality view of the same graph: **PageRank over jaccard-pair
edges** — which documents sit at the center of duplication clusters
(high centrality ⇒ canonical/hub copies; the curation signal behind
"keep the hub, drop the satellites").

Spark-first iterative shape:
- the edge list (undirected → both directions) with out-degree
  attached is materialized ONCE (``localCheckpoint``) so every
  iteration reuses the same partitioning instead of re-deriving the
  join input; each iteration is one equi-join (ranks ⋈ edges on src)
  + one groupBy(dst) — the minimal two-shuffle PageRank step.
- ranks are ``localCheckpoint``ed every few iterations to truncate
  the lineage (the classic iterative-algorithm failure is a
  10-iteration-deep plan tree).
- fixed iteration count + damping 0.85; every quantity is
  deterministic, so the whole thing is oracle-checked against a
  DuckDB RECURSIVE CTE running the identical power iteration.

Scale notes (100 TB): the edge relation is the output of the bounded
band-join dedup pass (pairs, not the corpus), ranks are one row per
participating doc. Both shuffles key on doc ids — AQE handles skewed
hub nodes (a hot dst in groupBy is split by skew-join handling).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import _SHINGLES_SQL, dedup_ngram_jaccard
from ..session import index_base_dir, materialize

PR_ITERS = 10
PR_DAMP = 0.85


def _pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The jaccard near-dup pair table, materialized once per corpus.

    Every graph operator (PageRank, triangle counting, components,
    cluster audits) consumes the same edge list, and the shingle
    self-join that produces it dominates their cost. Like the ANN
    index layouts (operators/ann_index.py), the edge table is corpus
    state: built once per sf_dir under the index root and re-read as
    parquet afterwards — the standard graph-engine edge-materialization
    design, and byte-deterministic (the pair join is exact), so cached
    and fresh runs return identical results.
    """
    import os

    from .ann_index import publish_create_once

    root = os.path.join(
        index_base_dir(), "samza_spark_edges", sf_dir.strip("/").replace("/", "_")
    )
    return publish_create_once(
        spark,
        root,
        lambda: dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b"),
    )


def doc_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (10 fixed iterations, d=0.85) on the jaccard-pair graph.

    Nodes: documents appearing in ≥1 near-dup pair (isolated docs have
    trivially uniform rank and are excluded — at scale they are ~all
    docs, and materializing a rank row for each would dwarf the graph).
    The undirected graph has no dangling nodes (every node has degree
    ≥ 1 in both directions), so no dangling-mass term is needed.
    """
    pairs = _pairs_cached(spark, sf_dir)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # materialize (src, dst, deg) once; every iteration re-reads this
    edges_d = materialize(edges.join(deg, "src").repartition("src"), "iterative")
    n = edges_d.select("src").distinct().count()  # driver scalar
    ranks = (
        edges_d.select("src").distinct().withColumn("rank", F.lit(1.0 / n))
    )
    base = (1.0 - PR_DAMP) / n
    for it in range(PR_ITERS):
        contribs = edges_d.join(ranks, "src").select(
            F.col("dst").alias("src"), (F.col("rank") / F.col("deg")).alias("c")
        )
        ranks = contribs.groupBy("src").agg(
            (F.lit(base) + F.lit(PR_DAMP) * F.sum("c")).alias("rank")
        )
        if (it + 1) % 3 == 0:
            ranks = materialize(ranks, "iterative")  # truncate iterative lineage
    return ranks.select(
        F.col("src").alias("doc_id"), F.round("rank", 6).alias("rank")
    )


#: the recursive power iteration, verbatim the Spark loop's math.
_PAGERANK_SQL = (
    _SHINGLES_SQL.replace("WITH", "WITH RECURSIVE", 1)
    + f"""
    , counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM inter
        JOIN counts na ON na.doc_id = doc_a
        JOIN counts nb ON nb.doc_id = doc_b
        WHERE round(i / (na.n + nb.n - i), 6) >= 0.5
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    nn AS (SELECT CAST(count(DISTINCT src) AS DOUBLE) AS n FROM edges),
    pr(it, node, rank) AS (
        SELECT 0, src, 1.0 / (SELECT n FROM nn)
        FROM (SELECT DISTINCT src FROM edges)
        UNION ALL
        SELECT it + 1, e.dst,
               (1.0 - {PR_DAMP}) / (SELECT n FROM nn)
               + {PR_DAMP} * sum(pr.rank / d.deg)
        FROM pr
        JOIN edges e ON e.src = pr.node
        JOIN deg d ON d.src = pr.node
        WHERE it < {PR_ITERS}
        GROUP BY it, e.dst
    )
    SELECT node AS doc_id, round(rank, 6) AS rank
    FROM pr WHERE it = {PR_ITERS}
    """
)

def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles + global clustering coefficient of the near-dup graph.

    The standard distributed algorithm (degree-ordered wedge join):
    1. undirected degree per node;
    2. orient every edge from the LOWER (degree, id) endpoint to the
       higher — each undirected edge appears exactly once, and a hub
       of degree d contributes O(d_out²) wedges with d_out bounded by
       ~√|E| instead of d (the skew killer: without orientation a
       celebrity node explodes the wedge join);
    3. wedges = oriented ⋈ oriented on the middle node; a wedge
       (u→v, u→w) closes iff oriented edge (v→w) exists — left-semi
       equi-join, counted once per triangle.

    Output is one row of integers (+ the clustering coefficient
    3·T / Σ deg·(deg−1)/2, rounded): fully oracle-checked, the DuckDB
    SQL runs the identical orientation so counts match exactly.
    """
    # the materialized per-corpus edge table: deg and the oriented
    # edges both derive from it, and the jaccard shingle join that
    # builds it is the expensive part (built once, shared with
    # doc_pagerank).
    pairs = _pairs_cached(spark, sf_dir)
    both = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    deg = both.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    e = (
        both.join(deg.alias("da"), "src")
        .join(
            deg.alias("db").select(
                F.col("src").alias("dst"), F.col("deg").alias("deg_dst")
            ),
            "dst",
        )
        .filter(
            (F.col("deg") < F.col("deg_dst"))
            | ((F.col("deg") == F.col("deg_dst")) & (F.col("src") < F.col("dst")))
        )
        .select("src", "dst")
        .transform(materialize, "bounded")  # oriented edges: reused by 3 join inputs
    )
    w1 = e.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    w2 = e.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    wedges = w1.join(w2, "u").filter(F.col("v") < F.col("w"))
    # closing edges canonicalized by id so the wedge-closure test is a
    # pure EQUI semi-join on (v, w) — no nested-loop anywhere.
    closing = e.select(
        F.least("src", "dst").alias("v"), F.greatest("src", "dst").alias("w")
    )
    tri = wedges.join(closing, ["v", "w"], "left_semi")
    n_tri = tri.count()
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum(F.col("deg") * (F.col("deg") - 1)) / 2).cast("long").alias("n_wedges"),
    ).collect()[0]
    n_edges = e.count()
    coeff = 3.0 * n_tri / stats.n_wedges if stats.n_wedges else 0.0
    return spark.createDataFrame(
        [
            (
                int(stats.n_nodes),
                int(n_edges),
                int(n_tri),
                int(stats.n_wedges),
                round(coeff, 6),
            )
        ],
        "n_nodes long, n_edges long, n_triangles long, n_wedges long, clustering_coeff double",
    )


_TRIANGLES_SQL = (
    _SHINGLES_SQL
    + """
    , counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM inter
        JOIN counts na ON na.doc_id = doc_a
        JOIN counts nb ON nb.doc_id = doc_b
        WHERE round(i / (na.n + nb.n - i), 6) >= 0.5
    ),
    both_dirs AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM both_dirs GROUP BY src),
    oriented AS (
        SELECT b.src, b.dst
        FROM both_dirs b
        JOIN deg da ON da.src = b.src
        JOIN deg db ON db.src = b.dst
        WHERE da.deg < db.deg OR (da.deg = db.deg AND b.src < b.dst)
    ),
    wedges AS (
        SELECT a.dst AS v, b.dst AS w
        FROM oriented a JOIN oriented b ON a.src = b.src
        WHERE a.dst < b.dst
    ),
    closing AS (
        SELECT least(src, dst) AS v, greatest(src, dst) AS w FROM oriented
    ),
    tri AS (
        SELECT count(*) AS n_triangles
        FROM wedges wg
        WHERE EXISTS (
            SELECT 1 FROM closing c WHERE c.v = wg.v AND c.w = wg.w
        )
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM oriented) AS n_edges,
           CAST(n_triangles AS BIGINT) AS n_triangles,
           (SELECT CAST(sum(deg * (deg - 1)) // 2 AS BIGINT) FROM deg) AS n_wedges,
           round(3.0 * n_triangles /
                 (SELECT sum(deg * (deg - 1)) / 2 FROM deg), 6) AS clustering_coeff
    FROM tri
    """
)


#: fixed LPA rounds: synchronous label propagation is deterministic
#: given a tie rule but need not converge (bipartite structures can
#: oscillate), so the contract is the fixed-round program itself —
#: Spark and the unrolled-CTE oracle run the identical 6 rounds.
LPA_ROUNDS = 6


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection via synchronous label propagation (LPA,
    Raghavan et al. 2007) over the near-dup graph — the refinement
    BETWEEN connected components and k-core: components glue
    everything reachable into one cluster (one boilerplate bridge
    merges two template families), while LPA splits a component into
    densely-linked communities, because a node adopts the label its
    neighborhood VOTES for, and a single bridge edge loses that vote.
    The curation read: one near-dup component that LPA splits into
    several communities is two template families sharing boilerplate
    — keep one representative per COMMUNITY, not per component.

    Deterministic synchronous variant: labels start as node ids; each
    round every node takes the most frequent label among its
    neighbors, ties broken by MIN label. Each round is one equi-join
    (edges ⋈ labels on dst) + one (node, label) count + one
    row_number cut — two shuffles, both keyed on node ids (AQE splits
    skewed hubs), with the per-round result localCheckpoint'd to
    truncate the iterative lineage (the doc_pagerank discipline).
    Fully ORACLE-CHECKED: the DuckDB twin unrolls the same 6 rounds
    as chained materialized CTEs (the graph_kcore oracle pattern).

    Output: (doc_id, community) for every node of the pair graph.
    """
    from pyspark.sql import Window

    pairs = _pairs_cached(spark, sf_dir)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .transform(materialize, "iterative")  # reused by every round
    )
    labels = edges.select("src").distinct().select(
        F.col("src").alias("node"), F.col("src").alias("lab")
    )
    w = Window.partitionBy("src").orderBy(F.desc("c"), F.asc("lab"))
    for _ in range(LPA_ROUNDS):
        labels = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src", "lab")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(F.col("src").alias("node"), "lab")
            .transform(materialize, "iterative")  # truncate iterative lineage
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("lab").alias("community")
    )


def _lpa_chain(rounds: int) -> str:
    """Unrolled synchronous-LPA rounds as chained MATERIALIZED CTEs
    (recursive CTEs can't express the per-round argmax-over-groups;
    same generated-oracle approach as ``_kcore_chain``)."""
    parts = ["l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lab FROM edges)"]
    for r in range(rounds):
        parts.append(
            f"""l{r + 1} AS MATERIALIZED (
        SELECT src AS node, lab FROM (
            SELECT e.src, l.lab, count(*) AS c,
                   row_number() OVER (
                       PARTITION BY e.src
                       ORDER BY count(*) DESC, l.lab ASC) AS rn
            FROM edges e JOIN l{r} l ON e.dst = l.node
            GROUP BY e.src, l.lab
        ) WHERE rn = 1
    )"""
        )
    return ",\n    ".join(parts)


_LPA_SQL = (
    _SHINGLES_SQL
    + f"""
    , counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM inter
        JOIN counts na ON na.doc_id = doc_a
        JOIN counts nb ON nb.doc_id = doc_b
        WHERE round(i / (na.n + nb.n - i), 6) >= 0.5
    ),
    edges AS MATERIALIZED (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    {_lpa_chain(LPA_ROUNDS)}
    SELECT node AS doc_id, lab AS community FROM l{LPA_ROUNDS}
    """
)


#: fixed peeling rounds: makes the distributed loop AND the SQL oracle
#: identical deterministic programs; the fixpoint pytest proves the
#: graph actually converges within this budget, so the fixed-R output
#: equals the true k-core here. (At 100 TB you iterate to convergence
#: with a driver-side changed-count check, exactly like dedup_clusters.)
KCORE_ROUNDS = 8


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core membership of the near-dup graph (k=2 and k=3).

    The dedup-triage refinement after connected components: a 2-core
    keeps only docs in CYCLES of similarity (mutually-reinforcing
    duplicate groups), and the 3-core marks the dense template-flood
    centers — chains and satellite leaves peel away. Classic
    distributed peeling: each round recomputes degree WITHIN the
    surviving set (two equi-joins of the materialized edge table
    against the survivor list + one groupBy) and drops nodes below k;
    ``KCORE_ROUNDS`` fixed rounds, survivor list localCheckpoint'd per
    round to truncate the iterative lineage. Cost per round ∝
    surviving edges — monotonically shrinking.

    Oracle: the same fixed-round peel UNROLLED as a chained-CTE SQL
    program (recursive CTEs can't reference the working table twice,
    which in-set degree needs — so the oracle is generated, not
    recursive). Fully hash-checked.
    """
    pairs = _pairs_cached(spark, sf_dir)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .transform(materialize, "iterative")
    )
    deg0 = edges.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))

    def peel(k: int) -> DataFrame:
        surv = deg0.select(F.col("src").alias("node"))
        prev_n = None
        for _ in range(KCORE_ROUNDS):
            in_deg = (
                edges.join(surv.withColumnRenamed("node", "src"), "src")
                .join(
                    surv.select(F.col("node").alias("dst")),
                    "dst",
                )
                .groupBy("src")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            surv = (
                in_deg.filter(F.col("c") >= k)
                .select(F.col("src").alias("node"))
                .transform(materialize, "iterative")
            )
            # peeling shrinks monotonically (surv_{t+1} ⊆ surv_t), so
            # an unchanged COUNT means an unchanged SET — fixpoint
            # reached, remaining rounds are no-ops. Output identical
            # to the full fixed-R run (what the oracle computes), so
            # the early exit is pure wall-time (typ. 3 rounds, not 8).
            n = surv.count()
            if n == prev_n:
                break
            prev_n = n
        return surv

    core2 = peel(2).withColumn("in_2core", F.lit(1))
    core3 = peel(3).withColumn("in_3core", F.lit(1))
    return (
        deg0.select(F.col("src").alias("doc_id"), F.col("degree").cast("long").alias("degree"))
        .join(core2.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .join(core3.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            "degree",
            F.coalesce("in_2core", F.lit(0)).cast("int").alias("in_2core"),
            F.coalesce("in_3core", F.lit(0)).cast("int").alias("in_3core"),
        )
    )


def _kcore_chain(k: int, tag: str) -> str:
    """Chained-CTE unrolled peel: s{tag}0 ⊇ s{tag}1 ⊇ … ⊇ s{tag}R.

    Every CTE is MATERIALIZED: each survivor set is referenced twice
    by the next round, and without the hint DuckDB's inlining
    re-evaluates the whole upstream chain (back to the shingle
    self-join) per reference — measured minutes instead of seconds.
    """
    parts = [f"s{tag}0 AS MATERIALIZED (SELECT src AS node FROM deg)"]
    for r in range(KCORE_ROUNDS):
        parts.append(
            f"""s{tag}{r + 1} AS MATERIALIZED (
        SELECT e.src AS node FROM edges e
        JOIN s{tag}{r} a ON e.src = a.node
        JOIN s{tag}{r} b ON e.dst = b.node
        GROUP BY e.src HAVING count(*) >= {k}
    )"""
        )
    return ",\n    ".join(parts)


_KCORE_SQL = (
    _SHINGLES_SQL
    + f"""
    , counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM inter
        JOIN counts na ON na.doc_id = doc_a
        JOIN counts nb ON nb.doc_id = doc_b
        WHERE round(i / (na.n + nb.n - i), 6) >= 0.5
    ),
    edges AS MATERIALIZED (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    deg AS MATERIALIZED (SELECT src, count(*) AS degree FROM edges GROUP BY src),
    {_kcore_chain(2, "a")},
    {_kcore_chain(3, "b")}
    SELECT d.src AS doc_id,
           CAST(d.degree AS BIGINT) AS degree,
           CAST(CASE WHEN c2.node IS NULL THEN 0 ELSE 1 END AS INT) AS in_2core,
           CAST(CASE WHEN c3.node IS NULL THEN 0 ELSE 1 END AS INT) AS in_3core
    FROM deg d
    LEFT JOIN s{"a"}{KCORE_ROUNDS} c2 ON d.src = c2.node
    LEFT JOIN s{"b"}{KCORE_ROUNDS} c3 ON d.src = c3.node
    """
)


ORACLES: dict[str, str] = {
    "doc_pagerank": _PAGERANK_SQL,
    "triangle_count": _TRIANGLES_SQL,
    "graph_kcore": _KCORE_SQL,
    "graph_label_propagation": _LPA_SQL,
}

QUERIES = {
    "doc_pagerank": doc_pagerank,
    "triangle_count": triangle_count,
    "graph_kcore": graph_kcore,
    "graph_label_propagation": graph_label_propagation,
}
