"""Meta-blocking (pipeline/metablocking.py): hand-computed edge weights on
a tiny block collection, WEP/WNP pruning semantics, a brute-force
differential on random blocks, block purging, the no-self-join plan pin,
and the end-to-end property the stage exists for — pruning the pipeline's
own LSH-band candidate set at zero recall cost on planted duplicates."""

from __future__ import annotations

import itertools
import random
import re

import pytest
from pyspark.sql import functions as F

from hexspark.pipeline import metablocking as mb


def _blocks(spark, rows):
    return spark.createDataFrame(rows, "block_key string, rec_id string")


@pytest.fixture(scope="module")
def tiny_graph(spark):
    # b1 = {x, y}, b2 = {x, y, z}, b3 = {y, z}, b4 = {w} (purged: size 1)
    rows = [
        ("b1", "x"), ("b1", "y"),
        ("b2", "x"), ("b2", "y"), ("b2", "z"),
        ("b3", "y"), ("b3", "z"),
        ("b4", "w"),
    ]
    g = mb.blocking_graph(_blocks(spark, rows), id_col="rec_id")
    return {(r["rec_id_a"], r["rec_id_b"]): r for r in g.collect()}


def test_blocking_graph_weights_by_hand(tiny_graph):
    g = tiny_graph
    assert set(g) == {("x", "y"), ("x", "z"), ("y", "z")}
    # cbs: shared block counts
    assert g[("x", "y")]["cbs"] == 2  # b1, b2
    assert g[("x", "z")]["cbs"] == 1  # b2
    assert g[("y", "z")]["cbs"] == 2  # b2, b3
    # arcs: sum of 1/C(|b|,2) over shared blocks
    assert g[("x", "y")]["arcs"] == pytest.approx(1 / 1 + 1 / 3)  # b1(2), b2(3)
    assert g[("x", "z")]["arcs"] == pytest.approx(1 / 3)
    assert g[("y", "z")]["arcs"] == pytest.approx(1 / 3 + 1 / 1)
    # js: cbs / (|B_a| + |B_b| - cbs) over surviving blocks
    # |B_x| = 2 (b1, b2), |B_y| = 3, |B_z| = 2
    assert g[("x", "y")]["js"] == pytest.approx(2 / (2 + 3 - 2))
    assert g[("x", "z")]["js"] == pytest.approx(1 / (2 + 2 - 1))
    assert g[("y", "z")]["js"] == pytest.approx(2 / (3 + 2 - 2))


def test_blocking_graph_dedupes_memberships(spark):
    # duplicate (block, id) rows must not inflate any weight
    rows = [("b1", "x"), ("b1", "x"), ("b1", "y"), ("b1", "y")]
    g = mb.blocking_graph(_blocks(spark, rows)).collect()
    assert len(g) == 1 and g[0]["cbs"] == 1 and g[0]["arcs"] == 1.0


def test_blocking_graph_purges_oversized_blocks(spark):
    rows = [("big", f"r{i:02d}") for i in range(10)] + [("ok", "a"), ("ok", "b")]
    g = mb.blocking_graph(_blocks(spark, rows), max_block=5)
    got = [(r["rec_id_a"], r["rec_id_b"]) for r in g.collect()]
    assert got == [("a", "b")]
    with pytest.raises(ValueError):
        mb.blocking_graph(_blocks(spark, rows), max_block=1)


def test_blocking_graph_matches_bruteforce(spark):
    """Differential vs an all-pairs itertools computation on random
    redundancy-positive blocks (fixed seed)."""
    rng = random.Random(20240819)
    ids = [f"e{i:03d}" for i in range(60)]
    rows = []
    for b in range(40):
        size = rng.randint(1, 8)
        for rid in rng.sample(ids, size):
            rows.append((f"blk{b:02d}", rid))
    got = {
        (r["rec_id_a"], r["rec_id_b"]): r
        for r in mb.blocking_graph(_blocks(spark, rows)).collect()
    }

    members: dict[str, set[str]] = {}
    for bk, rid in rows:
        members.setdefault(bk, set()).add(rid)
    members = {bk: s for bk, s in members.items() if len(s) >= 2}
    node_blocks: dict[str, int] = {}
    exp_cbs: dict[tuple, int] = {}
    exp_arcs: dict[tuple, float] = {}
    for bk, s in members.items():
        for rid in s:
            node_blocks[rid] = node_blocks.get(rid, 0) + 1
        for a, b in itertools.combinations(sorted(s), 2):
            exp_cbs[(a, b)] = exp_cbs.get((a, b), 0) + 1
            exp_arcs[(a, b)] = exp_arcs.get((a, b), 0.0) + 2.0 / (
                len(s) * (len(s) - 1)
            )
    assert set(got) == set(exp_cbs)
    for pair, r in got.items():
        assert r["cbs"] == exp_cbs[pair]
        assert r["arcs"] == pytest.approx(exp_arcs[pair])
        a, b = pair
        assert r["js"] == pytest.approx(
            exp_cbs[pair] / (node_blocks[a] + node_blocks[b] - exp_cbs[pair])
        )


def test_wep_prune_keeps_at_or_above_global_mean(spark, tiny_graph):
    rows = [
        ("b1", "x"), ("b1", "y"),
        ("b2", "x"), ("b2", "y"), ("b2", "z"),
        ("b3", "y"), ("b3", "z"),
    ]
    g = mb.blocking_graph(_blocks(spark, rows))
    kept = {
        (r["rec_id_a"], r["rec_id_b"])
        for r in mb.wep_prune(g, "cbs").collect()
    }
    # cbs weights: xy=2, xz=1, yz=2; mean = 5/3 -> keep the two cbs=2 edges
    assert kept == {("x", "y"), ("y", "z")}


def test_wnp_prune_union_semantics(spark):
    """Hub h has edges of weight 3 and 1 (local mean 2): the weight-1 edge
    to u survives anyway because it is u's ONLY (hence >= mean) edge —
    the redundancy-positive union variant."""
    import pyspark.sql.types as T

    schema = "rec_id_a string, rec_id_b string, cbs long"
    g = spark.createDataFrame(
        [("h", "s1", 3), ("h", "s2", 3), ("h", "u", 1)], schema
    )
    kept = {(r["rec_id_a"], r["rec_id_b"]) for r in mb.wnp_prune(g).collect()}
    assert kept == {("h", "s1"), ("h", "s2"), ("h", "u")}
    # but an edge below BOTH endpoints' means is dropped: give u a strong
    # second edge so (h, u) is below u's mean too
    g2 = spark.createDataFrame(
        [("h", "s1", 3), ("h", "s2", 3), ("h", "u", 1), ("u", "v", 5)], schema
    )
    kept2 = {(r["rec_id_a"], r["rec_id_b"]) for r in mb.wnp_prune(g2).collect()}
    assert kept2 == {("h", "s1"), ("h", "s2"), ("u", "v")}


def test_blocking_graph_has_no_block_self_join(spark):
    """The pair stream is generated in-array from ONE row per block: the
    only joins in the plan are the two id-keyed node_blocks attaches for
    the js denominator — never a join of the block-membership table with
    itself."""
    rows = [(f"b{i % 7}", f"r{i}") for i in range(30)]
    g = mb.blocking_graph(_blocks(spark, rows))
    plan = g._jdf.queryExecution().executedPlan().toString()
    joins = re.findall(
        r"\n[^\n]*(?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)", plan
    )
    assert len(joins) == 2, joins


def test_cnp_prune_topk_union_semantics(spark):
    """Union variant at k=1: the hub keeps only its best edge from its OWN
    vote, but every spoke's sole edge is that spoke's top-1, so all edges
    survive — until a spoke gains a stronger alternative, at which point
    the weak hub edge loses at BOTH endpoints and dies."""
    schema = "rec_id_a string, rec_id_b string, cbs long"
    g = spark.createDataFrame(
        [("h", "s1", 5), ("h", "s2", 3), ("h", "u", 1)], schema
    )
    kept = {(r["rec_id_a"], r["rec_id_b"]) for r in mb.cnp_prune(g, 1).collect()}
    assert kept == {("h", "s1"), ("h", "s2"), ("h", "u")}
    g2 = spark.createDataFrame(
        [("h", "s1", 5), ("h", "s2", 3), ("h", "u", 1), ("u", "v", 7)], schema
    )
    kept2 = {(r["rec_id_a"], r["rec_id_b"]) for r in mb.cnp_prune(g2, 1).collect()}
    assert kept2 == {("h", "s1"), ("h", "s2"), ("u", "v")}


def test_cnp_prune_matches_bruteforce(spark):
    """Differential vs a per-node (weight desc, other-id asc) top-k on a
    random graph, plus the budget property the scheme exists for."""
    rng = random.Random(7)
    ids = [f"n{i:02d}" for i in range(20)]
    edges = set()
    while len(edges) < 60:
        a, b = sorted(rng.sample(ids, 2))
        edges.add((a, b))
    rows = [(a, b, rng.randint(1, 5)) for a, b in sorted(edges)]
    g = spark.createDataFrame(rows, "rec_id_a string, rec_id_b string, cbs long")
    inc: dict[str, list] = {}
    for a, b, w in rows:
        inc.setdefault(a, []).append((w, b, (a, b)))
        inc.setdefault(b, []).append((w, a, (a, b)))
    for k in (1, 2, 3):
        got = {
            (r["rec_id_a"], r["rec_id_b"]) for r in mb.cnp_prune(g, k).collect()
        }
        exp = set()
        for lst in inc.values():
            exp |= {
                t[2] for t in sorted(lst, key=lambda t: (-t[0], t[1]))[:k]
            }
        assert got == exp, k
        assert len(got) <= k * len(ids)
    with pytest.raises(ValueError):
        mb.cnp_prune(g, 0)


def test_cep_prune_global_budget_with_ties(spark):
    """Histogram-threshold CEP: budget-th largest weight becomes the keep
    threshold, ties at the threshold all survive, small graphs pass
    through whole, empty graphs stay empty."""
    schema = "rec_id_a string, rec_id_b string, cbs long"
    rows = [("a", "b", 5), ("a", "c", 4), ("b", "c", 4), ("c", "d", 2), ("d", "e", 1)]
    g = spark.createDataFrame(rows, schema)
    top1 = {
        (r["rec_id_a"], r["rec_id_b"]) for r in mb.cep_prune(g, 1).collect()
    }
    assert top1 == {("a", "b")}
    assert mb.cep_prune(g, 2).count() == 3  # threshold 4, both ties kept
    assert mb.cep_prune(g, 3).count() == 3
    assert mb.cep_prune(g, 10).count() == 5  # budget >= |E|: whole graph
    assert mb.cep_prune(g.where("cbs > 99"), 3).count() == 0
    with pytest.raises(ValueError):
        mb.cep_prune(g, 0)


def test_shared_band_count_matches_hex_bands(spark):
    """blocking.shared_band_count (the codegen CBS weight over wide pairs)
    equals the agreeing-4-hex-char-band count of the two sig_hex strings."""
    from hexspark import fixtures
    from hexspark.pipeline import assemble, blocking
    from hexspark.pipeline import simhash as sm

    tr = fixtures.transcripts_df(spark, n_base=40, seed=3, mutation_rate=0.01)
    sigs = sm.signatures(assemble.assemble_conversations(tr)).persist()
    pairs, _ = blocking.candidate_pairs_wide(sigs, n_bands=16)
    got = (
        pairs.withColumn("cbs", blocking.shared_band_count(16))
        .select("conv_id_a", "conv_id_b", "cbs")
        .collect()
    )
    assert got, "fixture produced no candidate pairs"
    hexes = {
        r["conv_id"]: r["sig_hex"]
        for r in sigs.select("conv_id", "sig_hex").collect()
    }
    for r in got:
        ha, hb = hexes[r["conv_id_a"]], hexes[r["conv_id_b"]]
        exp = sum(ha[i * 4:(i + 1) * 4] == hb[i * 4:(i + 1) * 4] for i in range(16))
        assert r["cbs"] == exp, (r, ha, hb)
    sigs.unpersist()


def test_runner_meta_prune_wnp(spark, tmp_path):
    """Runner(meta_prune='wnp'): the pruned_pairs stage table lands, is
    strictly smaller than candidate_pairs, clustering still hits F1 >= 0.99
    on planted duplicates, and a rerun resumes THROUGH the pruned stage."""
    from hexspark import fixtures
    from hexspark.pipeline import evaluate
    from hexspark.pipeline.runner import PipelineConfig, Runner

    tr = fixtures.transcripts_df(spark, n_base=120, seed=11, mutation_rate=0.01)
    wd = str(tmp_path / "mp")
    cfg = dict(max_dist=40, meta_prune="wnp")
    res = Runner(spark, wd, PipelineConfig(**cfg)).run(tr)
    n_cand = res.tables["candidate_pairs"].count()
    n_kept = res.tables["pruned_pairs"].count()
    assert 0 < n_kept < n_cand, (n_kept, n_cand)
    labels = fixtures.labeled_pairs_df(spark, tr)
    m = evaluate.pairwise_f1(
        labels,
        res.tables["clusters"],
        candidate_pairs=res.tables["pruned_pairs"].select("conv_id_a", "conv_id_b"),
    )
    assert m["f1"] >= 0.99, m

    res2 = Runner(spark, wd, PipelineConfig(**cfg)).run(tr)
    assert res2.stages_run == []
    assert "pruned_pairs" in res2.stages_skipped


def test_runner_meta_prune_validation(spark, tmp_path):
    from hexspark.pipeline.runner import PipelineConfig, Runner

    with pytest.raises(ValueError, match="meta_prune"):
        Runner(spark, str(tmp_path / "x"), PipelineConfig(meta_prune="bogus"))
    with pytest.raises(ValueError, match="extra_passes does not compose"):
        Runner(
            spark,
            str(tmp_path / "y"),
            PipelineConfig(meta_prune="wnp", extra_passes=("suffix",)),
        )
    with pytest.raises(ValueError, match="meta_cnp_k"):
        Runner(
            spark,
            str(tmp_path / "z"),
            PipelineConfig(meta_prune="cnp", meta_cnp_k=0),
        )
    with pytest.raises(ValueError, match="meta_cep_budget"):
        Runner(
            spark,
            str(tmp_path / "w"),
            PipelineConfig(meta_prune="cep", meta_cep_budget=0),
        )


def test_meta_blocking_prunes_pipeline_candidates_at_full_recall(spark):
    """End-to-end: WNP over the pipeline's own LSH band keys shrinks the
    candidate set while keeping every planted duplicate pair reachable —
    the property the stage exists for. WNP (not WEP) is the right pruner
    here: in this fixture duplicate edges DOMINATE the graph (≈90%), so
    the global WEP mean sits near the duplicate weight itself and would
    cut weaker true pairs; the node-local threshold keeps every record's
    own best evidence regardless of the global mixture."""
    from hexspark import fixtures
    from hexspark.pipeline import assemble, blocking
    from hexspark.pipeline import simhash as sm

    tr = fixtures.transcripts_df(spark, n_base=120, seed=11, mutation_rate=0.01)
    sigs = sm.signatures(assemble.assemble_conversations(tr)).persist()
    bands = blocking.band_projection(sigs)  # (conv_id, band_id, band_val)
    blocks = bands.select(
        F.concat_ws(":", "band_id", "band_val").alias("block_key"),
        "conv_id",
    )
    g = mb.blocking_graph(blocks, id_col="conv_id").persist()
    pruned = mb.wnp_prune(g, id_col="conv_id", weight_col="cbs").persist()
    n_all, n_kept = g.count(), pruned.count()
    assert 0 < n_kept < n_all  # strictly prunes the noise co-occurrences

    # recall is CLUSTER-level, not pair-level: WNP may drop a weak
    # intra-cluster edge when both endpoints hold stronger ones, but the
    # duplicate cluster must stay connected through the kept edges —
    # downstream scoring + transitive clustering must still hit F1 >= 0.99
    from hexspark.pipeline import clustering, evaluate, scoring

    edges = scoring.score_and_match(
        pruned.select("conv_id_a", "conv_id_b"), sigs, max_dist=40
    )
    cc, _ = clustering.connected_components(edges)
    clusters = clustering.with_singletons(cc, sigs.select("conv_id"))
    labels = fixtures.labeled_pairs_df(spark, tr)
    m = evaluate.pairwise_f1(
        labels, clusters, candidate_pairs=pruned.select("conv_id_a", "conv_id_b")
    )
    assert m["f1"] >= 0.99, m
    pruned.unpersist()
    g.unpersist()
    sigs.unpersist()
