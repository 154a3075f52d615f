"""Entity canonicalization: connected components over an alias edge list via
iterative hash-partitioned min-label propagation (north rule).

Alias edges here: entities that share a surface form (the `_a`/`_b` candidate
split of the lexicon), i.e. (ent_x_a, ent_x_b).  Other evidence (e.g.
cross-surface sameAs edges) is passed to connected_components as a
DataFrame.

Algorithm (the standard DataFrame CC skeleton, same family as
large-star/small-star):

    label(v) := v
    repeat:
        msg(v)   = min over neighbors u of label(u)
        label(v) = min(label(v), msg(v))
    until no label changes

Each round is one shuffle on the edge list; lineage is cut every round
(cut_lineage: a reliable checkpoint when a checkpoint dir is set, else
localCheckpoint), and that checkpoint job also counts the labels that changed
(observed_cut), so convergence costs no job of its own.  Convergence in
O(max component diameter) rounds — alias graphs are shallow (star-like), so
2-3 rounds in practice.

Skew: a hot entity (one surface in 10% of docs) concentrates edges on one
key.  Mitigations applied: (1) edges are deduplicated before iterating, so
cardinality is bounded by the entity universe, not the corpus; (2) AQE skew
join handles residual imbalance; (3) the label join is on entity_id (universe
~lexicon-sized), broadcastable when small — the degenerate hot-key case never
reaches the big corpus tables because canonical mapping is applied AFTER
aggregation to distinct entities.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..graph import cut_lineage, iri_cols, local_frame, observed_cut
from .synth import ENTITY_LEXICON


def alias_edges(spark: SparkSession) -> list[tuple[str, str]]:
    """(src, dst) undirected alias evidence from the lexicon candidate groups,
    as a deduplicated driver-side list.  It stays a list: wrapping it in a
    DataFrame would cost connected_components a Spark job to collect it back
    (a PySpark local-list DataFrame is RDD-backed — even collecting 25 rows
    launches a many-partition pickle job, ~0.7 s of fixed latency).  `spark`
    is unused; existing callers pass it."""
    rows = []
    for surface, cands in ENTITY_LEXICON.items():
        ids = [c[0] for c in cands]
        for a, b in zip(ids, ids[1:]):
            rows.append((a, b))
    # dedup in Python: a .distinct() costs a full Spark shuffle job to dedup
    # a lexicon-sized list that is already in driver memory
    return list(dict.fromkeys(rows))


def connected_components(
    spark: SparkSession, edges: DataFrame | list[tuple[str, str]], max_iter: int = 25,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """-> (entity_id, canonical_id) with canonical_id = min member id.

    `edges` is a (src, dst) DataFrame or a driver-side list of (src, dst)
    pairs.  A list is already on the driver and goes straight to the
    union-find, with no Spark job.  Alias-evidence graphs are usually
    entity-universe-sized (≪ corpus); when a DataFrame's edge list fits
    comfortably on the driver, a union-find there beats a distributed round
    of three shuffles and a checkpoint, each adaptive query stage its own
    Spark job (about 7 jobs a round on a 12-edge chain).  Past
    `driver_threshold` edges the distributed min-label fixpoint below takes
    over (the path a 10^12-doc corpus with mined sameAs edges would
    exercise); it stops on the changed-label count its checkpoint job
    observes and raises if round max_iter + 1 still changes a label."""
    if max_iter < 1:
        # max_iter counts propagation rounds; the loop below adds one round
        # that only verifies convergence
        raise ValueError(f"connected_components requires max_iter >= 1, got {max_iter}")
    # ONE collect decides the path AND feeds the union-find (was a count job
    # + a collect job): limit(threshold) bounds the driver transfer exactly
    # like the old count did — len(rows) == threshold means "at least
    # threshold edges", taking the distributed path with rows discarded.
    if isinstance(edges, list):
        rows = edges
    else:
        rows = edges.limit(driver_threshold).collect() if driver_threshold > 0 else []
    if isinstance(edges, list) or len(rows) < driver_threshold:
        parent: dict[str, str] = {}

        def find(x: str) -> str:
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in rows:  # positional: r is a Row (collected) or a plain tuple
            ra, rb = find(r[0]), find(r[1])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comp: dict[str, list[str]] = {}
        for n in list(parent):
            comp.setdefault(find(n), []).append(n)
        out = [(n, min(members)) for root, members in comp.items() for n in members]
        return local_frame(spark, out, "entity_id string, canonical_id string")

    # every round joins the undirected edge set: cut it once, so no round
    # rebuilds both directions and their distinct from the caller's frame;
    # the labels stay lazy over it, and round 1's checkpoint cuts them
    und = cut_lineage(edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct())
    labels = und.select(F.col("src").alias("entity_id")).distinct().withColumn(
        "label", F.col("entity_id")
    )
    # round max_iter + 1 only verifies: labels that still change there mean
    # the component diameter exceeds max_iter (silent non-convergence would
    # corrupt the canonical mapping of chain-shaped alias graphs)
    for _ in range(max_iter + 1):
        msgs = (
            und.join(labels, und["src"] == labels["entity_id"], "inner")
            .groupBy(F.col("dst").alias("entity_id"))
            .agg(F.min("label").alias("nbr_min"))
        )
        obs = Observation()
        labels, seen = observed_cut(
            labels.join(msgs, "entity_id", "left")
            .observe(obs, F.count_if(F.col("nbr_min") < F.col("label")).alias("changed"))
            .select(
                "entity_id",
                F.least(F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))).alias("label"),
            ),
            obs,
        )
        if not seen["changed"]:
            return labels.withColumnRenamed("label", "canonical_id")
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        "(component diameter exceeds max_iter); raise max_iter or "
        "pre-contract long chains"
    )


def canonicalize_triples(
    spark: SparkSession, triples: DataFrame, mapping: DataFrame, entity_prefix: str
) -> DataFrame:
    """Rewrite entity IRIs in s and o through the canonical mapping.

    mapping is entity-universe-sized (≪ corpus) -> broadcast joins; only IRIs
    under entity_prefix are rewritten."""
    new = iri_cols(F.concat(F.lit(entity_prefix), F.col("canonical_id")))
    m = mapping.select(
        iri_cols(F.concat(F.lit(entity_prefix), F.col("entity_id")))[0].alias("_old"),
        new[0].alias("_new"),
        new[1].alias("_new_v"),
    )
    out = (
        triples.join(F.broadcast(m), triples["s"] == m["_old"], "left")
        .withColumn("s", F.coalesce(F.col("_new"), F.col("s")))
        .drop("_old", "_new", "_new_v")
    )
    out = (
        out.join(F.broadcast(m), out["o"] == m["_old"], "left")
        .withColumn("o", F.coalesce(F.col("_new"), F.col("o")))
        .withColumn("o_v", F.coalesce(F.col("_new_v"), F.col("o_v")))
        .drop("_old", "_new", "_new_v")
    )
    return out.dropDuplicates(["s", "p", "o"])
