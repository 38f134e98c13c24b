"""Incremental ER correctness: folding a new batch into an existing
clustering must reproduce the full-batch result (the equivalence contract in
hexspark/pipeline/incremental.py), never generate old-old pairs, and keep
mega-duplicate blocks connected across the batch boundary via the bridge.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hexspark import fixtures
from hexspark.pipeline import (
    assemble,
    blocking,
    clustering,
    incremental,
    scoring,
    simhash,
)

MAX_DIST = 40


def _batch_clusters(spark, tr):
    sigs = simhash.signatures(assemble.assemble_conversations(tr)).persist()
    pairs, _ = blocking.candidate_pairs_wide(sigs)
    edges = scoring.score_wide(pairs, max_dist=MAX_DIST)
    cc, _ = clustering.connected_components(edges)
    return sigs, clustering.with_singletons(cc, sigs.select("conv_id"))


@pytest.fixture(scope="module")
def split_data(spark):
    tr = fixtures.transcripts_df(spark, n_base=200, seed=11, mutation_rate=0.01)
    tr = tr.cache()
    tr.count()
    # deterministic 2:1 split BY CONVERSATION (batches must not split a
    # conversation's turns)
    old_ids = (
        tr.select("conv_id").distinct()
        .where(F.pmod(F.xxhash64("conv_id"), F.lit(3)) != 0)
        .cache()
    )
    tr_old = tr.join(old_ids, "conv_id")
    tr_new = tr.join(old_ids, "conv_id", "left_anti")
    return tr, tr_old, tr_new, old_ids


def test_incremental_matches_full_batch(spark, split_data):
    tr, tr_old, tr_new, _ = split_data
    _, clusters_full = _batch_clusters(spark, tr)

    sigs_old, clusters_old = _batch_clusters(spark, tr_old)
    res = incremental.incremental_update(
        tr_new, sigs_old, clusters_old, max_dist=MAX_DIST
    )

    want = {(r.conv_id, r.cluster_id) for r in clusters_full.collect()}
    got = {(r.conv_id, r.cluster_id) for r in res["clusters"].collect()}
    assert got == want
    # rows, not just set: no duplicate assignments
    assert res["clusters"].count() == len(got)
    # schema column ORDER must match the batch path too: set ops compare by
    # position, and stage-table readers must see one schema across batch and
    # incremental writes (regression: the left_anti join in merge_clusters
    # used to move cluster_id to the front)
    assert res["clusters"].columns == clusters_full.columns
    assert res["clusters"].exceptAll(clusters_full).count() == 0
    assert clusters_full.exceptAll(res["clusters"]).count() == 0


def _flagged_sigs(tr_old, tr_new):
    sigs_old = simhash.signatures(assemble.assemble_conversations(tr_old))
    sigs_new = simhash.signatures(assemble.assemble_conversations(tr_new))
    return sigs_old.withColumn("is_new", F.lit(False)).unionByName(
        sigs_new.withColumn("is_new", F.lit(True))
    )


def _id_pairs(pairs):
    return sorted((r.conv_id_a, r.conv_id_b)
                  for r in pairs.select("conv_id_a", "conv_id_b").collect())


# the fixture's largest LSH block has 7 members: 4 puts ~100 blocks over
# the cap, so the salted chain branch runs too
@pytest.mark.parametrize("max_block", [2000, 4])
def test_no_old_old_pairs(spark, split_data, max_block):
    tr, tr_old, tr_new, old_ids = split_data
    pairs, stats = blocking.candidate_pairs_wide(
        _flagged_sigs(tr_old, tr_new), max_block=max_block
    )
    n_oversize = stats.where(F.col("skipped")).count()
    assert (n_oversize > 0) == (max_block == 4), n_oversize
    old = {r.conv_id for r in old_ids.collect()}
    got = _id_pairs(pairs)
    assert got
    assert not [p for p in got if p[0] in old and p[1] in old]
    # and each emitted pair is emitted exactly once, canonical order
    assert all(a < b for a, b in got)
    assert len(got) == len(set(got))


@pytest.mark.parametrize("max_block", [2000, 4])
@pytest.mark.parametrize("flag", ["literal", "expression"])
def test_all_new_flag_reproduces_batch_pairs(spark, split_data, max_block, flag):
    """With every row new, new-vs-all mode must emit exactly the batch
    pair set — a constant-folded flag and one the optimizer cannot fold
    alike, with and without the chain branch (max_block=4)."""
    tr = split_data[0]
    sigs = simhash.signatures(assemble.assemble_conversations(tr)).persist()
    is_new = (
        F.lit(True) if flag == "literal" else F.xxhash64("conv_id").isNotNull()
    )
    batch, _ = blocking.candidate_pairs_wide(sigs, max_block=max_block)
    fold, _ = blocking.candidate_pairs_wide(
        sigs.withColumn("is_new", is_new), max_block=max_block
    )
    want = _id_pairs(batch)
    assert want
    assert _id_pairs(fold) == want
    sigs.unpersist()


def test_incremental_pairs_cover_new_vs_all_candidates(spark, split_data):
    """Every full-batch candidate pair touching a new conv must be produced
    by the incremental path too (same pigeonhole guarantee)."""
    tr, tr_old, tr_new, old_ids = split_data
    sigs_full = simhash.signatures(assemble.assemble_conversations(tr))
    full_pairs, _ = blocking.candidate_pairs(sigs_full)

    inc_pairs, _ = blocking.candidate_pairs_wide(_flagged_sigs(tr_old, tr_new))

    full_touching_new = (
        full_pairs.join(old_ids.withColumnRenamed("conv_id", "conv_id_a"),
                        "conv_id_a", "left_semi")
        .join(old_ids.withColumnRenamed("conv_id", "conv_id_b"),
              "conv_id_b", "left_semi")
    )
    # full pairs minus old-old pairs == pairs touching >= 1 new conv
    expect = full_pairs.exceptAll(
        full_touching_new.select("conv_id_a", "conv_id_b")
    )
    missing = expect.exceptAll(inc_pairs.select("conv_id_a", "conv_id_b"))
    assert missing.count() == 0


def test_mega_block_bridged_across_batches(spark):
    """60 byte-identical conversations split 40 old / 20 new, max_block=16:
    every LSH block is oversize, so the batch run chains the old members and
    the incremental run must bridge its new chain into the old cluster."""
    rows = [(f"c{i:03d}", 0, "user", "the same boilerplate text repeated verbatim",
             "none") for i in range(60)]
    tr = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn("ts", F.current_timestamp())
    tr_old = tr.where(F.col("conv_id") < "c040")
    tr_new = tr.where(F.col("conv_id") >= "c040")

    sigs_old = simhash.signatures(assemble.assemble_conversations(tr_old)).persist()
    pairs_old, _ = blocking.candidate_pairs_wide(sigs_old, max_block=16)
    edges_old = scoring.score_wide(pairs_old, max_dist=MAX_DIST)
    cc, _ = clustering.connected_components(edges_old)
    clusters_old = clustering.with_singletons(cc, sigs_old.select("conv_id"))
    assert clusters_old.select("cluster_id").distinct().count() == 1

    res = incremental.incremental_update(
        tr_new, sigs_old, clusters_old, max_block=16, max_dist=MAX_DIST
    )
    final = res["clusters"]
    assert final.count() == 60
    assert final.select("cluster_id").distinct().count() == 1
    assert final.agg(F.min("cluster_id")).collect()[0][0] == "c000"


def test_runner_incremental_matches_full_batch_run(spark, split_data, tmp_path):
    """Production surface: Runner.run on batch A, run_incremental on batch
    B, final clusters table == Runner.run on A ∪ B."""
    from hexspark.pipeline.runner import PipelineConfig, Runner

    tr, tr_old, tr_new, _ = split_data
    cfg = PipelineConfig(max_dist=MAX_DIST)

    full = Runner(spark, str(tmp_path / "full"), cfg)
    full_result = full.run(tr)
    want = {
        (r.conv_id, r.cluster_id)
        for r in full_result.tables["clusters"].collect()
    }

    inc = Runner(spark, str(tmp_path / "inc"), cfg)
    inc.run(tr_old)
    result = inc.run_incremental(tr_new)
    got = {(r.conv_id, r.cluster_id) for r in result.tables["clusters"].collect()}
    assert got == want
    assert result.tables["signatures"].count() == tr.select("conv_id").distinct().count()
    # edges table accumulated both batches' edges, all within the gate
    assert result.tables["edges"].where(F.col("hamming_dist") > MAX_DIST).count() == 0


def test_runner_incremental_requires_completed_run(spark, split_data, tmp_path):
    from hexspark.pipeline.runner import PipelineConfig, Runner

    _, _, tr_new, _ = split_data
    runner = Runner(spark, str(tmp_path / "fresh"), PipelineConfig(max_dist=MAX_DIST))
    with pytest.raises(ValueError, match="completed prior run"):
        runner.run_incremental(tr_new)


def test_runner_incremental_rejects_overlapping_batch(spark, split_data, tmp_path):
    """A conv_id that reappears in a later batch would keep its stale
    signature — the runner must refuse instead of silently mis-clustering."""
    from hexspark.pipeline.runner import PipelineConfig, Runner

    _, tr_old, _, _ = split_data
    runner = Runner(spark, str(tmp_path / "dup"), PipelineConfig(max_dist=MAX_DIST))
    runner.run(tr_old)
    with pytest.raises(ValueError, match="already exist in the prior run"):
        runner.run_incremental(tr_old.limit(50))


def test_empty_new_batch_is_identity(spark, split_data):
    tr, tr_old, _, _ = split_data
    sigs_old, clusters_old = _batch_clusters(spark, tr_old)
    empty = spark.createDataFrame(
        [], fixtures.TRANSCRIPT_SCHEMA
    )
    res = incremental.incremental_update(empty, sigs_old, clusters_old)
    want = {(r.conv_id, r.cluster_id) for r in clusters_old.collect()}
    got = {(r.conv_id, r.cluster_id) for r in res["clusters"].collect()}
    assert got == want


def test_incremental_matches_full_batch_randomized(spark):
    """Randomized equivalence sweep: random corpora, random split fractions
    and salts (including splits that scatter duplicate families across the
    old/new boundary). Each trial pins the same contract as the fixed-split
    test above — the incremental fold of the new batch must reproduce the
    full-batch clustering exactly."""
    import random

    rng = random.Random(20260818)
    for trial in range(3):
        seed = rng.randint(1, 10_000)
        mod = rng.choice([2, 3, 5])
        keep = rng.randrange(mod)
        salt = rng.randint(0, 1 << 30)
        tr = fixtures.transcripts_df(
            spark, n_base=rng.choice([80, 150]), seed=seed, mutation_rate=0.01
        ).cache()
        old_ids = (
            tr.select("conv_id").distinct()
            .where(F.pmod(F.xxhash64("conv_id", F.lit(salt)), F.lit(mod)) != keep)
            .cache()
        )
        persisted = [tr, old_ids]
        try:
            tr_old = tr.join(old_ids, "conv_id")
            tr_new = tr.join(old_ids, "conv_id", "left_anti")
            if tr_new.select("conv_id").distinct().count() == 0:
                continue

            sigs_full, clusters_full = _batch_clusters(spark, tr)
            sigs_old, clusters_old = _batch_clusters(spark, tr_old)
            persisted += [sigs_full, sigs_old]
            res = incremental.incremental_update(
                tr_new, sigs_old, clusters_old, max_dist=MAX_DIST
            )
            persisted += [res["new_signatures"], res["edges"]]
            want = {(r.conv_id, r.cluster_id) for r in clusters_full.collect()}
            got = {(r.conv_id, r.cluster_id) for r in res["clusters"].collect()}
            assert got == want, (trial, seed, mod, keep, salt)
            assert res["clusters"].count() == len(got), (trial, seed)
        finally:
            for df in persisted:
                df.unpersist()


def test_run_incremental_retry_after_partial_fold(spark, tmp_path):
    """Crash-retry property of the runner's write order (edges, clusters,
    signatures LAST): a fold that died after the edges append and clusters
    replacement but BEFORE the signatures replacement must be safely
    retryable — the overlap guard still passes (signatures lack the batch)
    and the retry converges to the same clusters as the full batch run,
    with at worst duplicated edge rows (which clustering ignores)."""
    from hexspark.pipeline.runner import PipelineConfig, Runner

    workdir = str(tmp_path / "wd")
    tr = fixtures.transcripts_df(spark, n_base=120, seed=21, mutation_rate=0.01).cache()
    ids = tr.select("conv_id").distinct().where(F.pmod(F.xxhash64("conv_id"), F.lit(4)) != 0)
    tr_old = tr.join(ids, "conv_id", "left_semi")
    tr_new = tr.join(ids, "conv_id", "left_anti")

    runner = Runner(spark, workdir, PipelineConfig(max_dist=MAX_DIST))
    runner.run(tr_old)

    # simulate the crashed fold: apply the first two writes only
    res = incremental.incremental_update(
        tr_new, runner.io.read("signatures"), runner.io.read("clusters"),
        max_dist=MAX_DIST,
    )
    runner.io.append(res["edges"], "edges")
    runner.io.write(res["clusters"], "clusters")
    # signatures intentionally NOT written — the crash point

    # retry through the public surface must succeed (no overlap error)
    runner.run_incremental(tr_new)

    _, clusters_full = _batch_clusters(spark, tr)
    want = {(r.conv_id, r.cluster_id) for r in clusters_full.collect()}
    got_df = runner.io.read("clusters")
    got = {(r.conv_id, r.cluster_id) for r in got_df.collect()}
    assert got == want
    assert got_df.count() == len(got)  # no duplicate assignments
    tr.unpersist()
