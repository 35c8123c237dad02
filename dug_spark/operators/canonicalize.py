"""Entity canonicalization: connected components over equivalence edges.

The reference resolves each identifier independently through the NodeNorm
HTTP service (annotators/_base.py:143-180) — two mentions whose CURIEs sit
in the same equivalence set collapse only if NodeNorm returns the same
preferred id for both.  At corpus scale the equivalence relation is a
graph (``equivalent_identifiers`` arrays overlap transitively), so the
Spark-native formulation is **iterative min-label propagation /
connected components over DataFrame joins** (GraphFrames-style, per the
BASELINE north_star), with ``localCheckpoint()`` every iteration to cut
lineage.

Algorithm (large-star/small-star simplified to symmetric min-propagation):
    comp(v) ← v
    repeat: comp(v) ← min(comp(v), min over neighbors u of comp(u))
    until fixpoint (converges in O(log n) rounds on typical graphs, ≤
    diameter rounds worst case).

Canonical id election: lexicographic min of ``preferred_id`` members in
the component (deterministic — the reference's election is "whatever
NodeNorm says", which is a fixed function of the same table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# edge lists up to this size take connected_components' driver-side fast path
CC_DRIVER_EDGES = 200_000


def equivalence_edges(curie_norm: DataFrame) -> DataFrame:
    """norm table → undirected edge list (src, dst), src≠dst, from
    curie↔preferred_id and curie↔each equivalent identifier."""
    base = curie_norm.select(
        F.col("curie").alias("src"), F.col("preferred_id").alias("dst")
    )
    eq = curie_norm.select(
        F.col("curie").alias("src"),
        F.explode_outer("equivalent_identifiers").alias("dst"),
    ).where(F.col("dst").isNotNull())
    edges = base.unionByName(eq).where(F.col("src") != F.col("dst"))
    # symmetrize once; dedupe to keep the join small
    return (
        edges.unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )


def _min_label_in_driver(rows, max_iter: int) -> dict:
    """Level-synchronous fixpoint of the EXACT per-round update the
    distributed loop applies — comp(v) ← min(comp(v), min over edge
    (u → v) of comp(u)) — over a collected edge list, with the SAME
    ``max_iter`` round budget and non-convergence RuntimeError, so the
    fast path is observationally identical (including the directed-
    propagation behavior on un-symmetrized inputs and the refuse-to-
    truncate contract on chains longer than the budget)."""
    out_edges: dict = {}
    labels: dict = {}
    for r in rows:
        s, d = r[0], r[1]
        out_edges.setdefault(s, []).append(d)
        labels.setdefault(s, s)
        labels.setdefault(d, d)
    for _ in range(max_iter):
        changed = False
        new_labels = dict(labels)
        for u, ds in out_edges.items():
            lu = labels[u]
            for v in ds:
                if lu < new_labels[v]:
                    new_labels[v] = lu
                    changed = True
        labels = new_labels
        if not changed:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} "
        "iterations (equivalence chain longer than max_iter hops); "
        "raise max_iter"
    )


def connected_components(
    edges: DataFrame,
    max_iter: int = 25,
    num_partitions: int | None = None,
    driver_cutoff_edges: int = CC_DRIVER_EDGES,
) -> DataFrame:
    """edges(src, dst) → (id, comp) with comp = min node id reachable.

    Early-exits when an iteration changes no label.  Each round is one
    shuffle (join on src) + one aggregation; `localCheckpoint` truncates
    the logical plan so round k doesn't replay rounds 1..k-1.

    The loop runs at a shuffle parallelism sized to the *graph* (one
    partition per ~500k edges), not to the corpus-level default — on a
    dimension-sized equivalence graph the driver round-trips otherwise
    dominate wall time.

    Small-graph fast path: below ``driver_cutoff_edges`` edges (default
    ``CC_DRIVER_EDGES``, 200k — a few MB collected)
    the fixpoint runs as a driver-side worklist over the collected edge
    list instead of a multi-round shuffle loop whose per-round cluster
    latency dwarfs the label work.  Equivalence graphs are
    dimension-sized by construction; duplicate-pair graphs above the
    cutoff (near-dedup at corpus scale) take the distributed loop
    unchanged.  Semantics are identical (same per-edge min-propagation
    fixpoint, pytest-asserted equal).
    """
    spark = edges.sparkSession
    if driver_cutoff_edges > 0:
        # one job: if ≤ cutoff rows come back the edge list is complete
        probe = (
            edges.select("src", "dst").limit(driver_cutoff_edges + 1).collect()
        )
        if len(probe) <= driver_cutoff_edges:
            labels = _min_label_in_driver(probe, max_iter)
            import pandas as pd

            id_type = edges.schema["src"].dataType
            schema = T.StructType(
                [
                    T.StructField("id", id_type),
                    T.StructField("comp", id_type),
                ]
            )
            items = sorted(labels.items())
            pdf = pd.DataFrame(
                {"id": [k for k, _ in items], "comp": [v for _, v in items]}
            )
            return spark.createDataFrame(pdf, schema=schema)

    if num_partitions is None:
        # size the loop's shuffles to the graph: ~500k edges/partition
        n_edges = edges.count()
        num_partitions = max(1, min(n_edges // 500_000 + 1, 2000))

    old_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", str(num_partitions))
    # AQE's per-stage re-planning adds latency to every tiny iteration
    # stage and buys nothing on a loop whose partitioning we fixed above
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        # materialize once so the edge-derivation plan (union+distinct)
        # isn't replayed on every iteration
        edges = edges.localCheckpoint(eager=True)
        nodes = (
            edges.select(F.col("src").alias("id"))
            .unionByName(edges.select(F.col("dst").alias("id")))
            .distinct()
        )
        labels = nodes.withColumn("comp", F.col("id")).localCheckpoint(eager=True)
        for _ in range(max_iter):
            # comp of each node's neighbors; carry the previous comp
            # through the aggregation so convergence is ONE cheap agg on
            # the checkpointed result instead of a join per iteration
            nbr = (
                edges.join(labels.withColumnRenamed("id", "src"), "src")
                .select(F.col("dst").alias("id"), "comp", F.lit(None).cast("string").alias("prev"))
            )
            new_labels = (
                labels.select("id", "comp", F.col("comp").alias("prev"))
                .unionByName(nbr)
                .groupBy("id")
                .agg(F.min("comp").alias("comp"), F.max("prev").alias("prev"))
                .localCheckpoint(eager=True)
            )
            changed = (
                new_labels.where(F.col("comp") != F.col("prev")).limit(1).count()
            )
            labels = new_labels.select("id", "comp")
            if changed == 0:
                break
        else:
            # min-label propagation needs O(diameter) rounds; exhausting
            # max_iter means the labels are NOT a fixpoint — returning them
            # would silently corrupt canonical ids downstream.
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} "
                "iterations (equivalence chain longer than max_iter hops); "
                "raise max_iter"
            )
        return labels
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_shuffle)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def canonical_mapping(
    curie_norm: DataFrame, max_iter: int = 25, num_partitions: int | None = None
) -> DataFrame:
    """norm table → (curie, canonical_id): every CURIE in an equivalence
    component maps to the lexicographically smallest preferred_id in it
    (falling back to smallest member id for components with no norm row).

    The norm table is dimension-sized (≪ corpus), so the CC loop defaults
    to the parallelism of the norm scan rather than counting edges first.
    """
    edges = equivalence_edges(curie_norm)
    # num_partitions=None → connected_components sizes the loop's shuffles
    # by edge count (~500k edges/partition): a dimension-sized equivalence
    # graph runs its whole loop in 1 partition — driver round-trips, not
    # task counts, dominate tiny iterative stages
    comps = connected_components(edges, max_iter=max_iter, num_partitions=num_partitions)
    preferred = curie_norm.select(
        F.col("preferred_id").alias("id"), F.col("preferred_id").alias("pref")
    ).distinct()
    elected = (
        comps.join(preferred, "id", "left")
        .groupBy("comp")
        .agg(F.min("pref").alias("canon_pref"), F.min("id").alias("canon_any"))
        .withColumn("canonical_id", F.coalesce("canon_pref", "canon_any"))
        .select("comp", "canonical_id")
    )
    return (
        comps.join(elected, "comp")
        .select(F.col("id").alias("curie"), "canonical_id")
    )


def canonicalize_mentions(
    normalized_mentions: DataFrame,
    curie_norm: DataFrame,
    max_iter: int = 25,
    mapping: DataFrame | None = None,
) -> DataFrame:
    """Rewrite each normalized mention's curie to its component canonical
    id; mentions outside the norm graph (greenlisted survivors) keep their
    own id.  Pass a precomputed ``mapping`` (from ``canonical_mapping``) to
    skip the iterative CC loop — it's a pure function of the dimension
    table, so pipelines compute it once and reuse it across runs."""
    if mapping is None:
        mapping = canonical_mapping(curie_norm, max_iter=max_iter)
    out = normalized_mentions.join(
        F.broadcast(mapping), "curie", "left"
    )
    return out.withColumn(
        "curie", F.coalesce("canonical_id", "curie")
    ).drop("canonical_id")


# ---------------------------------------------------------------------------
# Cross-snapshot entity alignment.  The reference canonicalizes WITHIN
# one normalization table (equivalence_edges → connected components);
# when an ontology/KG snapshot is re-released, the complementary
# operator aligns the OLD entity set to the NEW one without shared ids —
# classic ontology matching by name-token overlap with reciprocal-best
# acceptance (mutual top-1, the standard precision guard).


def align_entities(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "id",
    name_col: str = "name",
    min_sim: float = 0.34,
    max_token_df: int | None = None,
) -> DataFrame:
    """Match entities across two snapshots by token-set Jaccard over
    their names, accepting only reciprocal best matches.

    Names tokenize as lowercase ``[^a-z0-9]+``-separated distinct
    tokens.  Candidate pairs come from an inverted-index join on shared
    tokens (NEVER a cross join); Jaccard = shared / (|L| + |R| −
    shared); pairs below ``min_sim`` drop; a pair survives only if each
    side is the other's rank-1 (sim DESC, id ASC tie-break — fully
    deterministic).  Returns ``(left_id, right_id, sim, n_shared)``.

    Scale shape: the token join is the classic set-similarity blocking
    (Vernica et al. 2010): work is Σ_token df_L(t)·df_R(t), so hot
    tokens (stopwords in names) dominate — ``max_token_df`` drops
    tokens whose df exceeds the cap on EITHER side before the join (the
    same guard dedup_minhash_lsh applies to hot bands); alignment loses
    only pairs whose every shared token is ubiquitous, which fail
    ``min_sim`` anyway at web scale.  Two aggregations (pair counts,
    per-side ranks) + one window pass per side; everything else is
    narrow."""
    from pyspark.sql import Window

    def toks(df, side):
        t = F.explode(
            F.array_distinct(
                F.filter(
                    F.split(F.lower(F.col(name_col)), "[^a-z0-9]+"),
                    lambda x: x != "",
                )
            )
        )
        return df.select(F.col(id_col).alias(f"{side}_id"), t.alias("tok"))

    lt, rt = toks(left, "left"), toks(right, "right")
    if max_token_df is not None:
        hot = (
            lt.groupBy("tok").count().where(F.col("count") > max_token_df)
            .select("tok")
            .unionByName(
                rt.groupBy("tok").count()
                .where(F.col("count") > max_token_df).select("tok")
            )
            .distinct()
        )
        lt = lt.join(F.broadcast(hot), "tok", "left_anti")
        rt = rt.join(F.broadcast(hot), "tok", "left_anti")
    lsize = lt.groupBy("left_id").agg(F.count(F.lit(1)).alias("l_n"))
    rsize = rt.groupBy("right_id").agg(F.count(F.lit(1)).alias("r_n"))
    pairs = (
        lt.join(rt, "tok")
        .groupBy("left_id", "right_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .join(lsize, "left_id")
        .join(rsize, "right_id")
        .withColumn(
            "sim",
            F.col("n_shared")
            / (F.col("l_n") + F.col("r_n") - F.col("n_shared")),
        )
        .where(F.col("sim") >= F.lit(min_sim))
    )
    wl = Window.partitionBy("left_id").orderBy(
        F.col("sim").desc(), F.col("right_id").asc()
    )
    wr = Window.partitionBy("right_id").orderBy(
        F.col("sim").desc(), F.col("left_id").asc()
    )
    return (
        pairs.withColumn("l_rank", F.row_number().over(wl))
        .withColumn("r_rank", F.row_number().over(wr))
        .where((F.col("l_rank") == 1) & (F.col("r_rank") == 1))
        .select(
            "left_id", "right_id", F.round("sim", 6).alias("sim"), "n_shared"
        )
    )


def connected_components_star(
    edges: DataFrame,
    max_iter: int = 30,
    num_partitions: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """edges(src, dst) → (id, comp), comp = min reachable node id — the
    two-phase star algorithm (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC 2014: alternating Large-Star / Small-Star
    contractions), converging in O(log² n) rounds — in practice a
    near-constant handful — REGARDLESS of graph diameter.

    Why it exists next to ``connected_components``: min-label propagation
    needs O(diameter) rounds, so a 10^12-node equivalence graph holding
    one redirect/alias chain longer than ``max_iter`` hard-fails (by
    design — see its RuntimeError).  Web graphs have exactly such chains
    (URL redirect ladders, pagination trails).  Star contraction's round
    count is diameter-independent: every round each node links toward
    the minimum of its neighborhood, halving the potential function —
    a 100k-hop chain converges in ~15 rounds where propagation needs
    100k.

    Each round is two groupBy-join passes (Large-Star over the
    symmetrized edges, Small-Star over the max→min orientation), every
    intermediate ``localCheckpoint``-ed so round k never replays rounds
    1..k-1, and shuffle parallelism is sized to the GRAPH (one partition
    per ~500k edges) exactly like ``connected_components``.  Output
    contract is identical (comp = min member id), so the two are
    drop-in interchangeable — property-tested equal on random graphs.
    """
    spark = edges.sparkSession
    src, dst = F.col("src"), F.col("dst")
    if num_partitions is None:
        n_edges = edges.count()
        num_partitions = max(1, min(n_edges // 500_000 + 1, 2000))

    old_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", str(num_partitions))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        edges = edges.where(src != dst).localCheckpoint(eager=True)
        nodes = (
            edges.select(src.alias("id"))
            .unionByName(edges.select(dst.alias("id")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # star edges: (u, v) with v < u, initially the min-orientation
        star = (
            edges.select(
                F.greatest(src, dst).alias("src"), F.least(src, dst).alias("dst")
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_star = star.count()
        rounds = 0
        for _ in range(max_iter):
            rounds += 1
            # Large-Star: over symmetric edges, every neighbor v > u
            # links to m(u) = min(Γ(u) ∪ {u})
            sym = star.unionByName(
                star.select(dst.alias("src"), src.alias("dst"))
            )
            mins = sym.groupBy("src").agg(
                F.least(F.min("dst"), F.col("src")).alias("m")
            )
            large = (
                sym.join(mins, "src")
                .where(dst > src)
                .select(dst.alias("src"), F.col("m").alias("dst"))
                .where(src != dst)
                .distinct()
            )
            # Small-Star: orient max→min, every smaller neighbor (and u
            # itself) links to the minimum of the oriented neighborhood
            oriented = large.select(
                F.greatest(src, dst).alias("src"), F.least(src, dst).alias("dst")
            )
            smins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
            small = (
                oriented.join(smins, "src")
                .select(dst.alias("src"), F.col("m").alias("dst"))
                .unionByName(smins.select("src", F.col("m").alias("dst")))
                .where(src != dst)
                .distinct()
                .localCheckpoint(eager=True)
            )
            n_new = small.count()
            if n_new == n_star and small.exceptAll(star).limit(1).count() == 0:
                star = small
                break
            star, n_star = small, n_new
        else:
            raise RuntimeError(
                f"connected_components_star did not converge in {max_iter} "
                "rounds; raise max_iter"
            )
        if stats is not None:
            stats["rounds"] = rounds
        # fixpoint edges form stars rooted at each component's min id
        roots = star.groupBy("src").agg(F.min("dst").alias("comp"))
        return (
            nodes.join(roots.withColumnRenamed("src", "id"), "id", "left")
            .select("id", F.coalesce("comp", F.col("id")).alias("comp"))
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_shuffle)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def merge_components(
    labels: DataFrame,
    new_edges: DataFrame,
    max_iter: int = 30,
) -> DataFrame:
    """Incremental connected components: fold a crawl increment's new
    equivalence edges into an existing (id, comp) labeling WITHOUT
    re-solving the full graph — the canonicalization analog of
    ``graph.pagerank(init_ranks=...)`` warm starts.

    Edges only ever MERGE components (no deletions in an append-only
    equivalence stream), so the update is exact, not approximate:

    1. contract: map each new edge endpoint to its current component
       (left join; unseen nodes are their own singleton component), and
       keep only edges that BRIDGE two distinct components;
    2. solve CC on the contracted graph — increment-sized, not
       corpus-sized: its nodes are the components the increment touches
       (star contraction, so redirect chains in the increment are safe);
    3. rewrite: one broadcast-size join remaps old component ids (and
       labels the increment's new nodes).

    Step 3 is the only pass over the full labeling, and it is a map-side
    broadcast join when the increment is small — the usual case.  A
    full re-solve touches every edge ever seen; this touches the
    increment plus one map over the labels.  Exactness is pytest-gated:
    merge(labels(E₁), E₂) must equal solve(E₁ ∪ E₂) on random splits.
    """
    src, dst = F.col("src"), F.col("dst")
    labels = labels.localCheckpoint(eager=True)
    ends = new_edges.where(src != dst)
    # endpoint → current comp (new nodes: themselves)
    lsrc = labels.select(F.col("id").alias("src"), F.col("comp").alias("csrc"))
    ldst = labels.select(F.col("id").alias("dst"), F.col("comp").alias("cdst"))
    mapped = (
        ends.join(lsrc, "src", "left")
        .join(ldst, "dst", "left")
        .select(
            F.coalesce("csrc", src).alias("src"),
            F.coalesce("cdst", dst).alias("dst"),
        )
    )
    bridges = mapped.where(src != dst).distinct()
    # solve the contracted (increment-sized) graph
    contracted = connected_components_star(bridges, max_iter=max_iter)
    remap = contracted.select(
        F.col("id").alias("comp"), F.col("comp").alias("new_comp")
    )
    # new nodes from the increment that weren't in labels
    new_nodes = (
        ends.select(src.alias("id"))
        .unionByName(ends.select(dst.alias("id")))
        .distinct()
        .join(labels.select("id"), "id", "left_anti")
        .withColumn("comp", F.col("id"))
    )
    # broadcast the remap only while it is broadcast-SIZED: a large
    # increment bridging millions of components would blow the
    # broadcast limit / executor memory under an unconditional
    # F.broadcast (round-5 advisor finding) — count the contracted
    # components (remap is already materialized increment-sized state
    # from the star solve) and let AQE pick the join strategy above the
    # threshold
    remap = remap.localCheckpoint(eager=True)
    if remap.count() <= 2_000_000:
        remap = F.broadcast(remap)
    return (
        labels.unionByName(new_nodes)
        .join(remap, "comp", "left")
        .select("id", F.coalesce("new_comp", F.col("comp")).alias("comp"))
    )
