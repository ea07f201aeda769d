"""Distributed connected components over near-duplicate pair lists.

The dedup operators (minhash_lsh_pairs, simhash_near_pairs,
phash_near_dup, embedding_near_dup) emit PAIRS; a training-data pipeline
needs CLUSTERS — one keeper per transitively-connected group.  This is
the canonical "connected components in MapReduce" step.

Algorithm: alternating large-star / small-star contraction (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14), which
converges in O(log n) rounds for ANY graph:

* large-star: every node u hooks each STRICTLY LARGER neighbor onto
  m = min(N(u) ∪ {u})  — emit (v, m) for v ∈ N(u), v > u.
* small-star: orient every edge (big, small); every node u hooks its
  smaller neighbors AND ITSELF onto m = min(N⁻(u) ∪ {u}).

At the fixpoint the edge set is a star forest whose centers are the
component minima, so the labeling falls straight out of the final edge
list.  Round 1 of this build used plain min-label propagation, which
needs O(graph diameter) rounds — a 24k-node pHash corpus produced a
near-dup chain that needed 34 rounds (pointer doubling included) and
tripped the round guard; star contraction finishes the same graph in a
handful of rounds and is diameter-independent, which is the property
that matters at 100 TB.

Scale notes: each round is two (groupBy-min + join) passes over the
current edge set, which CONTRACTS as stars form; edge frames are
localCheckpoint'ed per round — iterative plans otherwise stack lineage
until the optimizer recompiles the whole history each action.  The
fixpoint witness is exact: the edge multiset's (count, sum(u), sum(v))
in decimal(38,0) plus an exceptAll probe when those match.  No
driver-side graph state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import map_batches


def _large_star(edges: DataFrame) -> DataFrame:
    """edges: undirected pair set (any orientation).  Emit
    (v, min(N(u) ∪ {u})) for every neighbor v > u — neighborhoods taken
    over the SYMMETRIZED view, as the paper requires (an edge to a
    smaller neighbor is not lost: it is re-emitted from the smaller
    endpoint's perspective).  Output is (big, small)-oriented."""
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("_mv"))
        .select("u", F.least(F.col("_mv"), F.col("u")).alias("m"))
    )
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient (big, small); emit (v, m) for v ∈ N⁻(u) ∪ {u}, v != m,
    where m = min(N⁻(u) ∪ {u})."""
    o = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v")).distinct()
    mins = (
        o.groupBy("u")
        .agg(F.min("v").alias("m"))  # all v < u, so min(N⁻ ∪ {u}) = min(v)
    )
    hooked = o.join(mins, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
    self_rows = mins.select("u", F.col("m").alias("v"))
    return (
        hooked.unionByName(self_rows)
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _local_contract(e0: DataFrame) -> DataFrame:
    """Per-Arrow-batch union-find pre-contraction (the standard
    two-level CC optimization): each batch's edges collapse to
    (node, local_min_rep) mapping edges.  Connectivity is preserved —
    within a batch both endpoints map to one rep; across batches a
    shared node links its reps — while long in-batch paths become
    stars, so the global star rounds start from a near-forest and the
    round count stops depending on the input diameter for any
    component that fits a batch.  Output rows satisfy rep <= node; the
    final labeling (component MINIMUM) is invariant to batching."""
    import pandas as pd

    def uf(pdf):
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        us = pdf["u"].tolist()
        vs = pdf["v"].tolist()
        for a, b in zip(us, vs):
            ra, rb = find(a), find(b)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        nodes = set(us)
        nodes.update(vs)
        return pd.DataFrame(
            [(n, find(n)) for n in nodes], columns=["u", "v"]
        )

    return map_batches(e0, uf, "u long, v long")


def connected_components(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    node_col: str = "doc_id",
    label_col: str = "component_id",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``; the
    component id is the minimum node id of the component."""
    # checkpoint the raw pair projection ONCE: nodes and edges both
    # derive from it, and without this each derivation re-runs the
    # caller's whole pair pipeline (decode/hash/join) from scratch
    e0 = (
        pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .where(F.col(a).isNotNull() & F.col(b).isNotNull())
        .localCheckpoint()
    )
    nodes = (
        e0.select(F.col("u").alias("node"))
        .unionByName(e0.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    # per-batch union-find pre-contraction: the star rounds start from
    # the (node, local_rep) mapping edges instead of the raw pair set
    edges = (
        _local_contract(e0)
        .where(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
        .localCheckpoint()
    )

    def sig(df: DataFrame):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("u").cast("decimal(38,0)")).alias("su"),
            F.sum(F.col("v").cast("decimal(38,0)")).alias("sv"),
        ).collect()[0]
        return (row.n, row.su, row.sv)

    prev_sig = None
    prev = None
    for _ in range(max_iter):
        new = _small_star(_large_star(edges)).localCheckpoint()
        cur_sig = sig(new)
        if cur_sig == prev_sig and prev is not None:
            # cheap witness matched — confirm exactly before stopping
            if new.exceptAll(prev).limit(1).count() == 0:
                edges_final = new
                break
        prev_sig, prev, edges = cur_sig, new, new
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "large/small-star rounds — this exceeds the O(log n) bound "
            "for any graph that fits the operator's id domain; check for "
            "nulls or non-comparable ids in the pair input"
        )

    # star forest: every non-center points at its component's minimum
    # (min-agg guards the extraction even if a node carries a duplicate
    # star edge)
    star = (
        edges_final.select(F.col("u").alias("node"), F.col("v").alias("_l"))
        .groupBy("node")
        .agg(F.min("_l").alias("label"))
    )
    out = (
        nodes.join(star, "node", "left")
        .select(
            "node", F.coalesce(F.col("label"), F.col("node")).alias("label")
        )
    )
    return out.select(
        F.col("node").alias(node_col), F.col("label").alias(label_col)
    )


def components_oracle_sql(pairs_sql: str) -> str:
    """DuckDB replay: transitive closure by recursive CTE over the SAME
    pair-producing SQL, labeled with the component minimum."""
    return f"""
WITH RECURSIVE prs AS ({pairs_sql}),
edges AS (
  SELECT doc_a AS s, doc_b AS t FROM prs
  UNION
  SELECT doc_b, doc_a FROM prs
),
nodes AS (SELECT DISTINCT s AS node FROM edges),
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT reach.node, e.t FROM reach JOIN edges e ON e.s = reach.r
)
SELECT node AS doc_id, min(r) AS component_id FROM reach GROUP BY 1
"""


def canonical_keep(comp: DataFrame, scores: DataFrame) -> DataFrame:
    """Canonical-representative selection per near-dup cluster — the
    keep-rule half of corpus dedup (components tell you WHAT is
    duplicated; this decides WHICH copy survives): keep the
    highest-score member, ties broken by smallest doc_id.

    ``comp``: (doc_id, component_id); ``scores``: (doc_id, quality).
    One equi-join plus one hash aggregate (max over a (quality,
    -doc_id) struct — no window, no per-component sort), so the reduce
    is map-side combinable and skew-safe even when one cluster holds
    millions of copies."""
    j = comp.join(scores, "doc_id")
    best = F.max(
        F.struct(F.col("quality").alias("q"), (-F.col("doc_id")).alias("nd"))
    ).alias("b")
    return (
        j.groupBy("component_id")
        .agg(F.count("*").alias("n_members"), best)
        .select(
            "component_id",
            "n_members",
            (-F.col("b.nd")).alias("keep_doc_id"),
            F.col("b.q").alias("keep_quality"),
        )
    )


def canonical_oracle_sql(pairs_sql: str, scores_sql: str) -> str:
    """components_oracle_sql's transitive closure composed with a
    per-component argmax replayed as a window rank (a DIFFERENT
    physical recipe from the engine's struct-max aggregate)."""
    return f"""
WITH RECURSIVE prs AS ({pairs_sql}),
edges AS (
  SELECT doc_a AS s, doc_b AS t FROM prs
  UNION
  SELECT doc_b, doc_a FROM prs
),
nodes AS (SELECT DISTINCT s AS node FROM edges),
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT reach.node, e.t FROM reach JOIN edges e ON e.s = reach.r
),
comp AS (SELECT node AS doc_id, min(r) AS component_id FROM reach GROUP BY 1),
qual AS ({scores_sql}),
joined AS (
  SELECT c.component_id, c.doc_id, q.quality
  FROM comp c JOIN qual q USING (doc_id)),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY component_id
                            ORDER BY quality DESC, doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY component_id) AS n_members
  FROM joined)
SELECT CAST(component_id AS BIGINT) AS component_id,
       CAST(n_members AS BIGINT) AS n_members,
       CAST(doc_id AS BIGINT) AS keep_doc_id,
       quality AS keep_quality
FROM ranked WHERE rn = 1
"""
