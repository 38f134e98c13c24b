"""Incremental entity resolution: fold a NEW batch of conversations into an
existing clustering without re-scoring the old corpus against itself.

Production motivation (the 100 TB case): a transcript corpus grows by a few
percent per day. Re-running the full pipeline re-generates and re-scores all
O(P) old-old candidate pairs every day even though none of them changed. The
incremental path touches only pairs with at least one NEW side, so per-batch
cost is O(pairs touching the batch) + O(affected clusters), independent of
the total corpus size apart from one linear band-projection scan of the old
signatures (which at scale is served by the materialized signatures table —
no re-fingerprinting of old conversations ever happens).

Blocking is the batch engine itself: blocking.candidate_pairs_wide over
the old and new signatures together, flagged with an ``is_new`` column,
which restricts the band join (and the oversize-block chains) to pairs
with at least one new side — one implementation, so every blocking change
reaches the fold and the batch run alike.

Semantics contract (tested in tests/test_incremental.py): running the batch
pipeline on corpus A, then incrementally adding batch B, yields the SAME
clusters as running the batch pipeline on A ∪ B — when no LSH block is
oversize. Oversize blocks are salt-chained in both paths (pipeline/blocking
docstring); the two paths may then emit different O(size) spanning pairs,
and equality holds at cluster level as long as chain pairs pass the score
gate (they are near-identical members of a mega-duplicate block, which is
what makes them a block) — connectivity, not pair identity, is the contract
there, exactly as in the batch path.

Reference anchor: the reference library has no incremental facility (its
whole surface is 5 scalar calls, python_hexhamming.cc:421-428); this module
is part of the axes-A+B pipeline generalization mandated by the north rule,
reusing A2/A3 scoring semantics unchanged via scoring.score_wide.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import assemble, blocking, clustering, scoring, simhash


def merge_clusters(
    prior_clusters: DataFrame,
    new_edges: DataFrame,
    new_ids: DataFrame,
    cc_max_iter: int = 20,
) -> tuple[DataFrame, int]:
    """Fold new match edges into an existing clustering.

    prior_clusters(conv_id, cluster_id) — the previous run's assignment
    (cluster_id = min member id, the B9 canonical form).
    new_edges(conv_id_a, conv_id_b, ...) — scored match edges, each
    touching >= 1 new conversation.
    new_ids(conv_id) — all conversations of the new batch (for singleton
    emission).

    Connected components runs ONLY over the CONDENSED affected subgraph:
    each new-edge endpoint is mapped to its prior cluster root (itself if it
    is a new node), so CC sees one node per touched prior CLUSTER plus the
    new nodes — not one node per affected member. A prior cluster of any
    size costs CC exactly one node, and collapsing member->root star paths
    lowers the merged graph's diameter, so CC both sees less data and
    converges in fewer rounds than folding the raw member-level star edges
    in. Members are re-expanded afterwards with one join (prior root -> new
    root). Untouched prior clusters stream through an anti-join unchanged —
    no CC iteration ever sees them, so per-batch cost scales with the
    batch, not the corpus.

    cluster_id stays min(member) after merges: every prior root is the min
    of its members, so the min over a merged component's {roots ∪ new node
    ids} equals the min over all its members ∪ new ids, and CC canonicalizes
    to exactly that component minimum.

    Returns (clusters, cc_rounds) covering all prior conv_ids plus new_ids.
    """
    ends = (
        new_edges.select(F.col("conv_id_a").alias("conv_id"))
        .union(new_edges.select(F.col("conv_id_b").alias("conv_id")))
        .distinct()
    )
    touched = (
        prior_clusters.join(ends, "conv_id")
        .select("cluster_id")
        .distinct()
    )
    affected = prior_clusters.join(touched, "cluster_id")
    # condense: rewrite each new-edge endpoint to its prior root; new nodes
    # (absent from prior_clusters) keep their own id. Broadcast-eligible —
    # the root map is restricted to endpoints of the batch's edges.
    end_roots = prior_clusters.join(ends, "conv_id").withColumnRenamed(
        "cluster_id", "root"
    )
    root_edges = (
        new_edges.select("conv_id_a", "conv_id_b")
        .join(
            end_roots.select(
                F.col("conv_id").alias("conv_id_a"), F.col("root").alias("root_a")
            ),
            "conv_id_a",
            "left",
        )
        .join(
            end_roots.select(
                F.col("conv_id").alias("conv_id_b"), F.col("root").alias("root_b")
            ),
            "conv_id_b",
            "left",
        )
        .select(
            F.coalesce("root_a", "conv_id_a").alias("conv_id_a"),
            F.coalesce("root_b", "conv_id_b").alias("conv_id_b"),
        )
    )
    root_cc, rounds = clustering.connected_components(root_edges, max_iter=cc_max_iter)
    # re-expand: members of a touched prior cluster follow their root's new
    # assignment; roots whose cluster was touched but absorbed no new edge
    # (possible when the batch edge lands inside one prior cluster → a
    # root self-loop that CC drops) keep their own root via the coalesce.
    cc = (
        affected.join(
            root_cc.select(
                F.col("conv_id").alias("cluster_id"),
                F.col("cluster_id").alias("new_root"),
            ),
            "cluster_id",
            "left",
        )
        .select(
            "conv_id", F.coalesce("new_root", "cluster_id").alias("cluster_id")
        )
        .unionByName(
            # new nodes that carry an edge: their root-level assignment IS
            # their member-level assignment (they have no prior members)
            root_cc.join(prior_clusters.select("conv_id"), "conv_id", "left_anti")
        )
    )
    # distinct: on a crash-RETRY of a partially-applied fold the prior
    # clusters already contain the batch's nodes, so affected ∪ new_ids
    # would list them twice and with_singletons would emit duplicate
    # singleton rows (the affected set is batch-scale, so this is cheap)
    merged_nodes = (
        affected.select("conv_id").union(new_ids.select("conv_id")).distinct()
    )
    merged = clustering.with_singletons(cc, merged_nodes)
    # anti-join on new_ids as well: a no-op when the batch is disjoint from
    # the prior corpus (the normal contract), but on a crash-RETRY of a
    # partially-applied fold the prior clusters already contain the batch,
    # and an edge-less batch singleton would otherwise be emitted both here
    # and by the singleton union below
    untouched = prior_clusters.join(touched, "cluster_id", "left_anti").join(
        new_ids.select("conv_id"), "conv_id", "left_anti"
    )
    # the left_anti join on cluster_id moves the key column to the front of
    # the schema; pin the canonical (conv_id, cluster_id) order so the table
    # is positionally identical to the batch path's (set ops like exceptAll
    # compare by position, and stage-table readers must see one schema)
    out = untouched.unionByName(merged).select("conv_id", "cluster_id")
    return out, rounds


def incremental_update(
    new_transcripts: DataFrame,
    prior_signatures: DataFrame,
    prior_clusters: DataFrame,
    n_bands: int = 16,
    max_block: int = 2000,
    max_dist: int = scoring.DEFAULT_MAX_DIST,
    alpha: float = scoring.DEFAULT_ALPHA,
    min_score: float = 0.0,
    cc_max_iter: int = 20,
    merge: bool = True,
    score_fn=None,
) -> dict:
    """One incremental batch: fingerprint ONLY the new conversations, block
    new-vs-all, score (A2/A3 semantics via score_wide, unchanged), and merge
    into the prior clustering.

    prior_signatures / prior_clusters are the previous run's materialized
    stage outputs (runner stage tables "signatures" / "clusters").

    ``merge=False`` skips the cluster merge entirely (clusters/cc_rounds
    come back None) — merge_clusters runs connected components EAGERLY, so
    a caller that clusters on a different edge set (the runner's robust
    mode merges over corroborated-triangle sides only) must opt out here
    or pay a full discarded CC over the raw edges.

    ``score_fn`` replaces the default blend scorer: a callable mapping the
    wide candidate-pair DataFrame to scored edges (the runner's FS mode
    passes fs.score_wide_fs bound to the manifest's fitted model, so
    incremental batches score under the SAME model as the prior run —
    whatever edge schema score_fn emits must match the existing edges
    stage table, which the config drift guard already guarantees).

    Precondition: the new batch's conv_ids are DISJOINT from the prior
    corpus (a reappearing conv_id would keep its stale signature/cluster).
    Runner.run_incremental enforces this with a broadcast semi-join guard;
    callers of this function directly are responsible for it themselves.

    Returns {"signatures": union signature table (the next run's prior),
             "new_signatures", "edges", "clusters", "block_stats",
             "cc_rounds"}.
    """
    new_sigs = simhash.signatures(
        assemble.assemble_conversations(new_transcripts)
    ).persist()  # referenced by blocking's several subtrees + output union
    all_sigs = prior_signatures.withColumn("is_new", F.lit(False)).unionByName(
        new_sigs.withColumn("is_new", F.lit(True))
    )
    # the batch blocking engine in new-vs-all mode (the is_new column):
    # pairs with >= 1 new side only, block sizes over the combined corpus
    pairs, block_stats = blocking.candidate_pairs_wide(
        all_sigs, n_bands=n_bands, max_block=max_block
    )
    if score_fn is None:
        edges = scoring.score_wide(
            pairs, max_dist=max_dist, alpha=alpha, min_score=min_score
        )
    else:
        edges = score_fn(pairs)
    edges = edges.persist()  # consumed twice below (endpoints + CC input)
    if merge:
        clusters, rounds = merge_clusters(
            prior_clusters, edges, new_sigs.select("conv_id"), cc_max_iter=cc_max_iter
        )
    else:
        clusters, rounds = None, None
    return {
        "signatures": prior_signatures.unionByName(new_sigs),
        "new_signatures": new_sigs,
        "edges": edges,
        "clusters": clusters,
        "block_stats": block_stats,
        "cc_rounds": rounds,
    }
