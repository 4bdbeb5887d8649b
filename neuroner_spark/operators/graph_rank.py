"""Entity-importance ranking over the materialized KG: PageRank as
iterative DataFrame joins (Page et al. 1999; the standard MapReduce
formulation), the analytics consumer of the triple store's entity/edge
tables — same execution discipline as ``operators/components.py``
(localCheckpoint per round so the plan never grows, one action per
round for the convergence check).

Scale shape at 10^9-node graphs:
  - the edge table is the only corpus-sized frame; each iteration is
    ONE equi-join (ranks x out-degrees on src) + ONE groupBy(dst) sum
    — both shuffles keyed on node id, and the join side reuses the
    same partitioning every round (AQE + exchange reuse);
  - out-degrees are computed once, up front;
  - dangling mass (nodes with no out-edges) is ONE scalar agg per
    round, redistributed uniformly — without it rank leaks and the
    result diverges from the true eigenvector;
  - convergence check = L1 delta, one action per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from neuroner_spark.session import release


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float = 1e-6,
    undirected: bool = False,
    iteration_log: list | None = None,
    checkpoint_interval: int = 5,
) -> DataFrame:
    """edges(src, dst) -> (node, rank), sum(rank) == 1.

    ``undirected``: symmetrize first (co-occurrence graphs are
    undirected; verb-predicate graphs are directed).
    ``iteration_log``: appends {'iter', 'l1_delta', 'wall_sec'} per
    round (the components.py observability contract).

    Partition-reuse structure (r6 session 5 — measured at 4M nodes /
    40M edges, where the first formulation spent most of each round
    re-exchanging the EDGE table): the static frames are persist()ed
    behind explicit hash repartitions (edges by src, nodes/ranks by
    node) instead of localCheckpoint()ed — a checkpointed frame
    surfaces as a LogicalRDD with UNKNOWN partitioning, so every
    round's share×edges join re-shuffled all 40M edge rows; a
    persisted frame keeps its outputPartitioning and the joins
    co-partition with ZERO edge exchange per round.  The rank frame is
    likewise persisted per round (the previous round is released once
    the new one is materialized), and every
    ``checkpoint_interval`` rounds it is localCheckpoint()ed instead,
    truncating the logical lineage so analysis cost stays bounded at
    ANY iteration count (the one reshuffle those rounds pay is
    node-sized, not edge-sized).  Live storage is bounded at ~2 rank
    frames + the static graph regardless of max_iter."""
    import time

    spark = edges.sparkSession
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    e = edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
    if undirected:
        e = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    e = (
        e.filter(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(shuffle_p, "src")
        .persist()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .repartition(shuffle_p, "node")
        .persist()
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    # partitioned by src already (derived from e) — no exchange
    out_deg = e.groupBy("src").agg(F.count("*").alias("deg")).persist()
    ranks = nodes.withColumn("rank", F.lit(1.0 / n)).persist()
    ranks.count()

    for i in range(max_iter):
        t0 = time.time()
        with_deg = ranks.join(out_deg, ranks.node == out_deg.src, "left")
        # dangling nodes (no out-edges) donate their mass uniformly —
        # folded in as a LAZY broadcast scalar (a collect here would be
        # an extra driver action per round)
        dang_frame = (
            with_deg.filter(F.col("deg").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dang"))
        )
        contribs = (
            with_deg.filter(F.col("deg").isNotNull())
            .select("node", (F.col("rank") / F.col("deg")).alias("share"))
            .join(e, F.col("node") == e.src)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("share").alias("inflow"))
        )
        new_ranks = (
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dang_frame))
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping) * F.col("_dang") / n
                    + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))
                ).alias("rank"),
            )
        )
        truncate = checkpoint_interval > 0 and (i + 1) % checkpoint_interval == 0
        if truncate:
            new_ranks = new_ranks.localCheckpoint()  # eager; lineage cut
        else:
            new_ranks = new_ranks.persist()
            new_ranks.count()  # materialize so the old round can be freed
        # the L1-delta convergence check is the round's ONLY extra
        # driver action; fixed-iteration callers (tol<=0) skip it
        delta = None
        if tol > 0:
            delta = (
                ranks.withColumnRenamed("rank", "r0")
                .join(new_ranks, "node")
                .agg(F.sum(F.abs(F.col("rank") - F.col("r0"))))
                .collect()[0][0]
            )
        # the old round fed this round's join (and the delta) — dead now
        release(ranks)
        ranks = new_ranks
        if iteration_log is not None:
            entry = {"iter": i, "wall_sec": round(time.time() - t0, 3)}
            if delta is not None:
                entry["l1_delta"] = float(delta)
            iteration_log.append(entry)
        if delta is not None and delta < tol:
            break
    # the returned rank frame is already materialized (persisted+counted
    # or checkpointed), so the static graph frames are dead after return
    release(e, nodes, out_deg)
    return ranks


def entity_pagerank(spark, store_dir: str, pred: str = "co_occurs_with", **kw) -> DataFrame:
    """Rank canonical entities by PageRank over one predicate's edge
    set from the incremental triple store (``read_kg_triples`` view, so
    retired ids are already resolved).  Co-occurrence predicates are
    undirected; verb predicates directed."""
    from neuroner_spark.plans.kg_pipeline import SYMMETRIC_PREDS, read_kg_triples

    triples = read_kg_triples(spark, store_dir).filter(F.col("pred") == pred)
    edges = triples.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    return pagerank(edges, undirected=pred in SYMMETRIC_PREDS, **kw)


def link_edges(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(src, dst) url-level hyperlink edges from the pages table's raw
    ``html`` binary — the web link graph a Common-Crawl corpus carries
    alongside its text.  Entirely JVM-side: decode + one
    ``regexp_extract_all`` over href attributes + explode; no UDF, no
    shuffle (the explode preserves the scan's partitioning).

    Relative hrefs (no scheme) are resolved against the source page's
    scheme://host; fragment-only and javascript/mailto pseudo-links are
    dropped.  Output is NOT distinct()ed — edge multiplicity is signal
    for weighted consumers; ``host_graph`` aggregates it.

    Contract: double-quoted href attributes only (the normalized form
    crawl extractors emit); single-quoted/unquoted attributes need a
    second regex alternative here — one line, same plan shape."""
    html_txt = F.decode(F.col(html_col), "UTF-8")
    hrefs = F.regexp_extract_all(html_txt, F.lit(r'href="([^"#]+)'), 1)
    base = F.regexp_extract(F.col(url_col), r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+)", 1)
    raw = pages.select(
        F.col(url_col).alias("src"), base.alias("_base"), F.explode(hrefs).alias("_h")
    ).filter(~F.col("_h").rlike(r"^(javascript:|mailto:|data:)"))
    resolved = F.when(F.col("_h").rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*://"), F.col("_h")).otherwise(
        F.concat(
            F.col("_base"),
            F.when(F.col("_h").startswith("/"), F.col("_h")).otherwise(
                F.concat(F.lit("/"), F.col("_h"))
            ),
        )
    )
    return raw.select("src", resolved.alias("dst")).filter(F.col("dst") != F.col("src"))


def host_graph(edges: DataFrame) -> DataFrame:
    """url-level link edges -> weighted host-level graph
    (src_host, dst_host, n_links), self-host edges dropped.  One
    map-side-combined groupBy on the host pair — at crawl scale the
    output is hosts², bounded far below the url-level edge count."""
    from neuroner_spark.functions.urls import url_host

    return (
        edges.select(
            url_host(F.col("src")).alias("src"), url_host(F.col("dst")).alias("dst")
        )
        .filter((F.col("src") != F.col("dst")) & (F.col("dst") != ""))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n_links"))
    )


def host_pagerank(pages: DataFrame, **kw) -> DataFrame:
    """Host-importance ranking over the crawl's own hyperlink graph:
    link extraction -> host aggregation -> ``pagerank``.  The id space
    is xxhash64(host) (collision-negligible at crawl scale); returns
    (host, rank) by joining the ranks back to the distinct host table
    (one broadcast-sized join at host cardinality)."""
    hg = host_graph(link_edges(pages)).localCheckpoint()
    ids = (
        hg.select(F.col("src").alias("host"))
        .unionByName(hg.select(F.col("dst").alias("host")))
        .distinct()
        .select("host", F.xxhash64("host").alias("node"))
    )
    ranks = pagerank(
        hg.select(F.xxhash64("src").alias("src"), F.xxhash64("dst").alias("dst")), **kw
    )
    return ranks.join(ids, "node").select("host", "rank")


def top_entities_per_component(
    spark,
    store_dir: str,
    pred: str = "co_occurs_with",
    k: int = 3,
    **pagerank_kw,
) -> DataFrame:
    """Analytics consumer over the incremental triple store: PageRank
    the entity graph of one predicate, connected-components the same
    edge set, and return each component's top-``k`` entities by rank —
    the "who matters inside each cluster" table a KG browser serves.

    Plan: the edge set is derived ONCE (read_kg_triples view);
    components and ranks are two loops over it; the final top-k is a
    rank-partitioned window over component (node-keyed shuffle, no
    global sort)."""
    from pyspark.sql import Window

    from neuroner_spark.operators.components import connected_components
    from neuroner_spark.plans.kg_pipeline import SYMMETRIC_PREDS, read_kg_triples

    triples = read_kg_triples(spark, store_dir).filter(F.col("pred") == pred)
    edges = triples.select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    ).localCheckpoint()
    ranks = pagerank(edges, undirected=pred in SYMMETRIC_PREDS, **pagerank_kw)
    comp = connected_components(edges)
    w = Window.partitionBy("component").orderBy(F.desc("rank"), F.asc("node"))
    return (
        ranks.join(comp, "node")
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= k)
        .select("component", "pos", F.col("node").alias("entity"), "rank")
    )
